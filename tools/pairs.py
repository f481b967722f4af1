#!/usr/bin/env python3
"""Paired perfbench runs of a parent revision against the checkout.

Usage (from the repository root):

    python3 tools/pairs.py --workload repl_tail --parent HEAD~1 \
        --pairs 10 --seed0 101 [--seconds 10] [--workdir DIR]

The parent revision is exported with `git archive` into
`<workdir>/parent-<sha>` (kept, so a later call reuses its perfbench
build); the change side is this checkout as it stands. Each pair runs
`perfbench/run.py` unchanged, once on each side with the same seed
(seed0, seed0+1, ...), and alternates which side runs first. A run that
ends without a result (an invalid open-loop run exits 3) is reported and
its pair left out.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the pairs the change won (ties count for neither
side) and whether a gain claim holds: the change wins at least nine
tenths of the pairs, and the medians differ, in the better direction, by
more than the parent's interquartile range. It also prints a
no-regression verdict per metric against the metric's `bound` (see
`verdict`), and exits 1 when any metric regressed. The runs themselves
and the summary go to `<workdir>/pairs_<workload>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[pairs] {msg}", file=sys.stderr, flush=True)


def export_parent(rev, workdir):
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, f"parent-{sha[:12]}")
    if not os.path.isdir(dest):
        os.makedirs(dest + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest + ".tmp"],
                       stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
        os.rename(dest + ".tmp", dest)
    return sha, dest


def run_once(root, workload, seed, seconds):
    """One perfbench run; returns (result or None, host line or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    host = result = None
    for l in lines:
        d = json.loads(l)
        if "host" in d:
            host = d["host"]
        elif "metrics" in d:
            result = d
    if result is None:
        tail = r.stderr.strip().splitlines()[-1:]
        log(f"{root}: seed {seed} gave no result (exit {r.returncode})"
            + (f": {tail[0]}" if tail else ""))
    return result, host


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(lower, bound, par, chg):
    """No-regression verdict of one metric from its per-run values.

    `regressed`: the change's median is worse than the parent's by more
    than `bound` (a fraction of the parent's median). Otherwise
    `unresolved` when the parent's own spread (interquartile range over
    median) exceeds `bound` and not every change run beats every parent
    run: the runs cannot tell a change within the bound from noise.
    Otherwise `ok`.
    """
    pq1, pmed, pq3 = quartiles(par)
    cmed = quartiles(chg)[1]
    if not pmed:
        return "ok" if cmed == pmed else "unresolved"
    worse = (cmed - pmed) if lower else (pmed - cmed)
    if worse / abs(pmed) > bound:
        return "regressed"
    beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
    if (pq3 - pq1) / abs(pmed) > bound and not beats_all:
        return "unresolved"
    return "ok"


def summarize(metrics, pairs):
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ps = [(p["parent"]["metrics"][name]["value"],
               p["change"]["metrics"][name]["value"])
              for p in pairs if name in p["parent"]["metrics"]
              and name in p["change"]["metrics"]]
        if not ps:
            continue
        par = [a for a, _ in ps]
        chg = [b for _, b in ps]
        won = sum(1 for a, b in ps if (b < a if lower else b > a))
        lost = sum(1 for a, b in ps if (b > a if lower else b < a))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = won >= 0.9 * len(ps) and gap > (pq3 - pq1)
        rows.append({"metric": name, "unit": m.get("unit", ""),
                     "better": m["better"], "bound": m.get("bound"),
                     "n": len(ps), "parent": par, "change": chg,
                     "parent_q": [pq1, pmed, pq3],
                     "change_q": [cq1, cmed, cq3],
                     "won": won, "lost": lost, "gain_rule": holds,
                     "verdict": verdict(lower, m["bound"], par, chg),
                     "rel_change": (cmed - pmed) / pmed if pmed else None})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True,
                    help="git revision of the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workdir", default=None,
                    help="where the parent export and the results live "
                         "(default: a new temporary directory)")
    a = ap.parse_args()
    workdir = a.workdir or tempfile.mkdtemp(prefix="pairs_")
    os.makedirs(workdir, exist_ok=True)
    sha, parent_root = export_parent(a.parent, workdir)
    log(f"parent {sha[:12]} at {parent_root}; change = {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": parent_root, "change": ROOT}
    pairs, dropped = [], []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res, host = run_once(sides[side], a.workload, seed, a.seconds)
            got[side] = (res, host)
            steal = host.get("cpu_steal_pct") if host else None
            vals = {k: round(m["value"], 3)
                    for k, m in res["metrics"].items()} if res else None
            log(f"pair {i + 1}/{a.pairs} seed {seed} {side}: " +
                (f"{vals} correct={res['correct']} steal={steal}"
                 if res else "no result"))
        if all(got[s][0] is not None for s in sides):
            pairs.append({"seed": seed, "first": order[0],
                          **{s: got[s][0] for s in sides},
                          "host": {s: got[s][1] for s in sides}})
        else:
            dropped.append(seed)
    rows = summarize(metrics, pairs)
    print(f"workload {a.workload}: parent {sha[:12]} vs checkout, "
          f"{len(pairs)} pairs (seeds {a.seed0}..{a.seed0 + a.pairs - 1}"
          + (f", dropped {dropped}" if dropped else "") + ")")
    incorrect = [(p["seed"], s) for p in pairs for s in sides
                 if not p[s]["correct"]]
    failed = {s: sum(p[s]["failed"] for p in pairs) for s in sides}
    attempted = {s: sum(p[s]["attempted"] for p in pairs) for s in sides}
    print(f"incorrect runs: {incorrect or 'none'}; failed/attempted "
          f"parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    print("| metric | parent q1 / median / q3 | change q1 / median / q3 "
          "| change | bound | pairs won | gain rule | no-regression |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- |")
    for r in rows:
        fmt = lambda q: " / ".join(f"{x:.4g}" for x in q)
        rel = f"{100 * r['rel_change']:+.1f}%" if r["rel_change"] is not None \
            else "-"
        print(f"| {r['metric']} | {fmt(r['parent_q'])} | "
              f"{fmt(r['change_q'])} | {rel} | {r['bound']} | "
              f"{r['won']}/{r['n']} | "
              f"{'holds' if r['gain_rule'] else 'no'} | {r['verdict']} |")
    out = os.path.join(workdir, f"pairs_{a.workload}.json")
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "parent": sha, "pairs": pairs,
                   "dropped": dropped, "summary": rows}, f, indent=1)
    log(f"runs and summary written to {out}")
    if any(r["verdict"] == "regressed" for r in rows):
        sys.exit(1)


if __name__ == "__main__":
    main()
