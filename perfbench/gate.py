"""Correctness gate of the benchmark: DuckDB recomputes of what each
workload produced, run once per phase, outside the timed part."""
import contextlib
import importlib.util
import io
import os

import duckdb


def _glob(d):
    return os.path.join(d, "*.parquet")


def check_repl(check):
    """The replicated table and the view kept from its change feed.

    `check` names the initial table rows, the generated events (with
    their segment number), the published segments, the final snapshot
    and the view (band, users, cents). The final snapshot must equal the
    last-writer-wins recompute over the initial rows plus every event of
    a published segment, and the view must equal that snapshot's census.
    Every timed segment must also have reached the stream exactly once.
    Returns (ok, reason)."""
    delivered = sorted(check["delivered"])
    if delivered != sorted(check["timed"]):
        lost = sorted(set(check["timed"]) - set(delivered))
        extra = [s for s in delivered if s not in check["timed"]
                 or delivered.count(s) > 1]
        return False, (f"segment delivery: lost {lost}, unexpected or "
                       f"repeated {sorted(set(extra))}")
    con = duckdb.connect()
    segs = ",".join(str(int(s)) for s in check["segments"]) or "-1"
    con.execute(f"""
        CREATE VIEW expected AS
        WITH log AS (
          SELECT user_id, last_ts_ms AS ts_ms, last_event_id AS lsn,
                 last_value AS value, false AS is_del
          FROM read_parquet('{_glob(check["initial"])}')
          UNION ALL
          SELECT user_id, ts_ms, event_id, value, event_type = 'error'
          FROM read_parquet('{_glob(check["events"])}')
          WHERE seg IN ({segs})),
        w AS (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts_ms DESC, lsn DESC) AS rn FROM log)
        SELECT user_id, ts_ms AS last_ts_ms, lsn AS last_event_id,
               value AS last_value
        FROM w WHERE rn = 1 AND NOT is_del""")
    con.execute(f"""CREATE VIEW got AS
        SELECT user_id, last_ts_ms, last_event_id, last_value
        FROM read_parquet('{_glob(check["final"])}')""")
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM expected "
                      "EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM got "
                    "EXCEPT ALL SELECT * FROM expected)").fetchone()[0]
    if missing or extra:
        return False, (f"final snapshot differs from the recompute: "
                       f"{missing} row(s) missing, {extra} unexpected")
    census = con.sql("""
        SELECT user_id % 10 AS band, count(*) AS n,
               CAST(sum(CAST(round(last_value * 100) AS BIGINT)) AS BIGINT)
        FROM got GROUP BY 1 ORDER BY 1""").fetchall()
    view = [tuple(int(x) for x in row) for row in check["view"]
            if int(row[1]) != 0]
    if [tuple(int(x) for x in r) for r in census] != view:
        return False, "view differs from the census of the final snapshot"
    return True, ""


def _load_check(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def mix_names(path):
    """The queries of a query_mix.txt list, in file order."""
    with open(path) as f:
        return [line.split()[1] for line in f
                if line.strip() and not line.lstrip().startswith("#")]


def parse_check(output, names):
    """{query: row count} for every query in `names` that tools/check.py
    printed as PASS, and {query: None} for the rest: a FAIL, a SKIP (no
    oracle) or no line at all (no result was written)."""
    out = {n: None for n in names}
    for line in output.splitlines():
        word, _, rest = line.partition(" ")
        if word == "PASS":
            name = rest.split(" ")[0]
            if name in out:
                out[name] = int(rest.split("(")[1].split()[0])
    return out


def check_mix(root, sf_dir, results, names):
    """Every query result against its oracle SQL in DuckDB, through the
    compare tools/check.py does; the verdict is parse_check's."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _load_check(root).main(sf_dir, results)
    return parse_check(buf.getvalue(), names)
