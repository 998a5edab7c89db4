#!/usr/bin/env python3
"""Offline result checks for graft.Verify output directories.

Usage:
  selfcheck.py oracle <verify_out_dir> <sf_dir> [query ...]
      Run each query's oracle SQL (from <verify_out_dir>/oracle_sql.json)
      in DuckDB over the <sf_dir> parquet tables and compare it with the
      Spark result in <verify_out_dir>/<query>/. Needs the duckdb module.
  selfcheck.py dirs <verify_out_a> <verify_out_b> [query ...]
      Compare two Verify output directories query by query, e.g. the same
      data run on two commits. Needs only pyarrow.

Both modes compare row count, column names (case-insensitive, in sorted
order) and an order-insensitive value hash: values rendered as strings,
floats to 9 significant digits to absorb floating-point noise, rows
sorted. Exit status 1 when any compared query differs.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    return str(v)


def table_hash(cols, rows):
    """Hash of the rows with columns in name order and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def read_result(out_dir, name):
    """(columns, rows) of one Verify result, or None when it is absent."""
    d = os.path.join(out_dir, name)
    if not glob.glob(os.path.join(d, "*.parquet")):
        return None
    tbl = pq.read_table(d)
    cols = list(tbl.column_names)
    return cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def verdict(a, b):
    """'' when the two (columns, rows) results agree, else the reason."""
    (a_cols, a_rows), (b_cols, b_rows) = a, b
    if sorted(c.lower() for c in a_cols) != sorted(c.lower() for c in b_cols):
        return f"columns {a_cols} vs {b_cols}"
    if len(a_rows) != len(b_rows):
        return f"rows {len(a_rows)} vs {len(b_rows)}"
    if table_hash(a_cols, a_rows) != table_hash(b_cols, b_rows):
        return f"values differ ({len(a_rows)} rows)"
    return ""


def oracle_mode(out_dir, sf_dir, only):
    import duckdb  # only this mode needs it
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for name in sorted(oracle):
        if only and name not in only:
            continue
        got = read_result(out_dir, name)
        if got is None:
            results.append((name, "no spark result"))
            continue
        try:
            cur = con.execute(oracle[name])
            want = ([d[0] for d in cur.description], cur.fetchall())
        except Exception as e:
            results.append((name, f"oracle error: {e}"))
            continue
        results.append((name, verdict(got, want)))
    return results


def dirs_mode(dir_a, dir_b, only):
    names = sorted(
        {os.path.basename(p) for d in (dir_a, dir_b)
         for p in glob.glob(os.path.join(d, "q_*")) if os.path.isdir(p)})
    results = []
    for name in names:
        if only and name not in only:
            continue
        a, b = read_result(dir_a, name), read_result(dir_b, name)
        if a is None or b is None:
            results.append((name, "missing in " +
                            (dir_a if a is None else dir_b)))
        else:
            results.append((name, verdict(a, b)))
    return results


def main():
    if len(sys.argv) < 4 or sys.argv[1] not in ("oracle", "dirs"):
        sys.exit(__doc__)
    mode, x, y, only = sys.argv[1], sys.argv[2], sys.argv[3], set(sys.argv[4:])
    results = (oracle_mode if mode == "oracle" else dirs_mode)(x, y, only)
    bad = [(n, why) for n, why in results if why]
    for name, why in results:
        print(f"FAIL {name}: {why}" if why else f"pass {name}")
    print(f"\n{len(results) - len(bad)} pass / {len(bad)} fail")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
