#!/usr/bin/env python3
"""Replication and query benchmark for the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload repl_tail --seed 1 --seconds 10 --trace 0

Workloads: repl_tail, query_mix. The first run compiles the library and
the harness with sbt (a separate build in perfbench/, the root build
untouched); later runs reuse that build until a source file changes.

Each run starts one harness JVM on local[nproc] in a fresh temporary
directory inside the checkout, checks the outputs against DuckDB
recomputes, prints a `host` line, then prints the result as the last line:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (from a second, traced pass in the same JVM).
The exit code is 0 only when every output is correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gate  # noqa: E402

WORKLOADS = ["repl_tail", "query_mix"]
# the per-layer metrics each workload must report itself; the rest of
# BENCHMARK.json's per_layer list reads 0 on it
OWN_LAYERS = {"repl_tail": ("stream.", "decode.", "txlog.", "view."),
              "query_mix": ("query.",)}
MIX_LIST = os.path.join(HERE, "query_mix.txt")
# a run must end within this many seconds, build excluded
RUN_LIMIT_S = 175
JVM_MEM = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for dp, dns, fns in os.walk(d):
            dns.sort()
            tops += [os.path.join(dp, f) for f in sorted(fns)]
    for p in tops:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    # offline: every dependency comes from the local caches
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt writeClasspath) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file) as c:
        return c.read().strip()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"  # not a git checkout


def cpu_times():
    """Host-wide CPU time by state, from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: on a shared host the repl_tail lag tracks it."""
    if t0 is None or t1 is None or sum(t1) == sum(t0):
        return None
    return 100.0 * (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def run_jvm(cp, args, tmp, limit_s):
    """Run the harness JVM in `tmp`; return its raw JSON, or raise."""
    out = os.path.join(tmp, "raw.json")
    cmd = (["java", f"-Xmx{JVM_MEM}", f"-Xms{JVM_MEM}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main"] + args + ["--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"harness JVM exceeded {limit_s:.0f}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


def pct(xs, q):
    """The q-quantile (0 < q < 1) of xs, by linear interpolation."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def repl_ops(ph):
    """Per-segment lags and commit times (the time of the trigger that
    applied the segment), and seconds busy in triggers, of a repl phase.

    A segment that never reached the view counts as failed, with the
    whole phase as its lag and commit time, so it misses every latency
    limit."""
    service = [b["end"] - b["start"] for b in ph["batches"]]
    commit_of = {k: t for b, t in zip(ph["batches"], service)
                 for k in b["segs"]}
    lags, commits, failed = [], [], 0
    for s in ph["segments"]:
        if s["visible"] is None or s["due"] is None:
            failed += 1
            lags.append(ph["measure_s"])
            commits.append(ph["measure_s"])
        else:
            lags.append(s["visible"] - s["due"])
            commits.append(commit_of[s["seg"]])
    return lags, commits, sum(service), failed


def open_loop_validity(ph):
    """None when the tail generator kept its schedule and the stream kept
    up; otherwise why the run is not a valid measurement.

    Each trigger takes every pending segment, so a trigger's segment
    count is the backlog it started from. While the stream keeps up that
    count stays level; above capacity every trigger starts further
    behind. The first two timed triggers (the ramp from an idle stream)
    and the last (the drain after publishing stopped) are left out, and
    the backlog counts as grown only when every trigger of the second
    half took more than one segment more than every trigger of the
    first. With fewer than four triggers left the run is too short to
    show growth, and only the generator's lateness is judged."""
    if ph["late_max_s"] > 0.1:
        return f"generator ran {ph['late_max_s']:.3f}s late"
    sizes = [len(b["segs"]) for b in ph["batches"]][2:-1]
    half = len(sizes) // 2
    if len(sizes) >= 4 and min(sizes[half:]) > max(sizes[:half]) + 1:
        return (f"backlog grew: triggers took {sizes} segments, the "
                "publish rate is above capacity")
    return None


def end_to_end(workload, ph, ok, rss_mb):
    """(metrics, attempted, failed) of one phase. `ok` is the gate's
    verdict: a bool for a repl phase; for query_mix, {query: row count of
    its checked result, or None}, which every timed call must match.

    An operation is a segment on repl_tail and a call on query_mix. lag
    is an operation's time from when it was due until its result showed
    (a call is due when it is made); query is its service time (the
    commit that applied a segment; the call); queries_per_s counts the
    operations done per second busy serving them."""
    if workload == "query_mix":
        calls = ph["calls"]
        good = [c["ok"] and ok.get(c["name"]) == c["rows"] for c in calls]
        attempted, failed = len(calls), good.count(False)
        # timings come from whole passes, so every run times the same mix
        size = len({c["name"] for c in calls})
        whole = {p for p in {c["pass"] for c in calls}
                 if sum(c["pass"] == p for c in calls) == size}
        timed = [(c, g) for c, g in zip(calls, good) if c["pass"] in whole]
        lags = [c["build_s"] + c["exec_s"] if g else ph["measure_s"]
                for c, g in timed]
        ops, busy, done = lags, sum(lags), sum(g for _, g in timed)
    else:
        lags, ops, busy, failed = repl_ops(ph)
        attempted = len(ph["segments"])
        if not ok:
            failed = attempted
        done = attempted - failed
    m = {
        # the traced phase of a query_mix run reuses the first set-up
        "setup_s": statistics.median(ph["setup_s"] or [0.0]),
        "lag_p50_s": pct(lags, 0.5),
        "lag_p90_s": pct(lags, 0.9),
        "query_p50_s": pct(ops, 0.5),
        "query_p90_s": pct(ops, 0.9),
        "queries_per_s": done / busy,
        "rss_peak_mb": rss_mb,
    }
    return m, attempted, failed


def primary_p50(workload, ph):
    if workload == "query_mix":
        return pct([c["build_s"] + c["exec_s"] for c in ph["calls"]], 0.5)
    return pct(repl_ops(ph)[0], 0.5)


def check_phase(workload, ph, sf):
    """Run the correctness gate on one phase. Returns (ok, verdict), the
    verdict in the form end_to_end takes."""
    if workload == "query_mix":
        res = gate.check_mix(ROOT, sf, ph["check"]["results"],
                             gate.mix_names(MIX_LIST))
        failed = sorted(q for q, rows in res.items() if rows is None)
        if failed:
            log(f"query_mix: no matching result for {failed}")
        return not failed, res
    ok, why = gate.check_repl(ph["check"])
    if not ok:
        log(f"{workload}: correctness gate failed: {why}")
    return ok, ok


def run_one(bench, workload, seed, seconds, trace, corrupt, sf, cp):
    t_start = time.time()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        args = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--sf", sf,
                "--queries", MIX_LIST]
        if corrupt:
            args += ["--corrupt", corrupt]
        limit = RUN_LIMIT_S - (time.time() - t_start) - 15
        t_jvm, cpu0 = time.time(), cpu_times()
        raw = run_jvm(cp, args, tmp, limit)
        steal = steal_pct(cpu0, cpu_times())
        log(f"{workload}: harness JVM {time.time() - t_jvm:.1f}s")
        phases = raw["phases"]
        correct = True
        checks = []
        for ph in phases:
            ok, detail = check_phase(workload, ph, sf)
            correct = correct and ok
            checks.append(detail)
        log(f"{workload}: correctness gate done at "
            f"{time.time() - t_start:.1f}s")
        base = phases[0]
        invalid = (open_loop_validity(base) if workload == "repl_tail"
                   else None)
        host = dict(raw["host"], git_commit=git_commit(),
                    workload=workload, seed=seed, seconds=seconds,
                    trace=trace, cpu_steal_pct=steal)
        rss = raw["host"]["rss_peak_mb"]
        e2e, attempted, failed = end_to_end(workload, base, checks[0], rss)
        host["samples"] = attempted
        if workload == "repl_tail":
            host["late_max_s"] = base["late_max_s"]
            host["backlog_max"] = max(
                [len(b["segs"]) for b in base["batches"]] or [0])
        if invalid:
            log(f"repl_tail run invalid: {invalid}")
            host["invalid"] = invalid
            print(json.dumps({"host": host}), flush=True)
            return None, 3
        if trace:
            tr = phases[1]
            layers = dict(tr["layers"])
            layers["trace.overhead_p50_s"] = (primary_p50(workload, tr) -
                                              primary_p50(workload, base))
            names = [m["name"] for m in bench["per_layer"]]
            missing = [n for n in names if n.startswith(OWN_LAYERS[workload])
                       and n not in layers]
            if missing:
                raise RuntimeError(f"{workload} did not report {missing}")
            _, tr_attempted, tr_failed = end_to_end(workload, tr, checks[1],
                                                    rss)
            attempted += tr_attempted
            failed += tr_failed
            if layers.get("trace.jobs_unattributed", 0) > 0:
                log(f"{layers['trace.jobs_unattributed']:.0f} Spark job(s) "
                    "ran outside every span")
                correct = False
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                                   "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        if not correct:
            failed = attempted
        print(json.dumps({"host": host}), flush=True)
        return ({"correct": correct, "attempted": attempted,
                 "failed": failed, "metrics": metrics},
                0 if correct and failed == 0 else 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", choices=["drop", "dup"],
                    help="lose or replay a segment (tests the gate)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the library sources are not next to "
                         "perfbench/ (run from a full checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata",
                                     "sf0.1"))
    cp = build()
    try:
        res, code = run_one(bench, a.workload, a.seed, a.seconds, a.trace,
                            a.corrupt, sf, cp)
    except Exception as e:
        log(f"{a.workload}: {e}")
        res, code = None, 1
    if res is not None:
        print(json.dumps(res), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
