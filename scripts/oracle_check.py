#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: reads the Verify
output directory (one parquet dir per query + oracle_sql.json), runs
each oracle SQL in DuckDB against the same sf tables, and compares
row count / schema (sorted column names) / values (rows sorted, cells
stringified). Dev tool only — not part of the shipped library.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [query...]

A query argument ending in `*` selects every query with that prefix
(quote it: 's9_stream_*'); any other argument is an exact name.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def frame(con, sql):
    res = con.sql(sql)
    cols = list(res.columns)
    rows = res.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out), rows


def wide_cols(con, sql):
    """Oracle output columns whose DuckDB type is a wide integer
    (HUGEINT / DECIMAL / UBIGINT). These stringify identically through
    fetchall() (Python ints), so this local gate cannot see a
    difference — but a pandas/pyarrow materialization path converts
    them to float64/object and the values hash differently there.
    That conversion split is the root cause of every r13 driver-red
    (the 4-round x_shard_append family included): all 7 red rows, and
    ONLY those rows, had a HUGEINT or DECIMAL(38,0) output column.
    Publish BIGINT or canonical digit VARCHAR instead; keep wide
    arithmetic internal to CTEs.
    """
    res = con.sql(sql)
    return [(c, str(t)) for c, t in zip(res.columns, res.types)
            if "HUGEINT" in str(t) or "DECIMAL" in str(t) or "UBIGINT" in str(t)]


def selected(name, patterns):
    if not patterns:
        return True
    return any(name.startswith(p[:-1]) if p.endswith("*") else name == p
               for p in patterns)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if not selected(name, only):
            continue
        pq = Path(out_dir) / name
        if not pq.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got_cols, got_rows, _ = frame(con, f"SELECT * FROM read_parquet('{pq}/*.parquet')")
            want_cols, want_rows, _ = frame(con, sql)
            wide = wide_cols(con, sql)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        if wide:
            print(f"FAIL {name}: wide-integer oracle output {wide} — "
                  "driver-red class; publish BIGINT or VARCHAR digits")
            n_fail += 1
        elif got_cols != want_cols:
            print(f"FAIL {name}: schema {got_cols} != {want_cols}")
            n_fail += 1
        elif len(got_rows) != len(want_rows):
            print(f"FAIL {name}: rows {len(got_rows)} != {len(want_rows)}")
            n_fail += 1
        elif got_rows != want_rows:
            diffs = [(g, w) for g, w in zip(got_rows, want_rows) if g != w]
            print(f"FAIL {name}: {len(diffs)} differing rows (of {len(got_rows)}); first: ")
            print(f"   spark:  {diffs[0][0]}")
            print(f"   oracle: {diffs[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
