"""Correctness oracle: every distinct read the harness ran is re-run in
DuckDB over the same parquet files and compared row for row."""
import datetime as dt
import json
import math

import duckdb


def _norm(v):
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _key(row):
    return json.dumps([("%.9g" % v) if isinstance(v, float) else v for v in row])


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _compare(got, want):
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} != oracle {w}"
    return None


def _files(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def check(checks_path, tables):
    """Map of check key -> mismatch description, for every read whose
    rows differ from DuckDB's over the same files."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for name, paths in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_files(paths)})")
    wrong = {}
    with open(checks_path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            c = json.loads(line)
            con.execute("CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet({_files(c['lineitem'])})")
            want = con.execute(c["sql"]).fetchall()
            diff = _compare(c["rows"], want)
            if diff:
                wrong[c["key"]] = diff
    con.close()
    return wrong
