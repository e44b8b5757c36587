#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query, as sorted row sets
(verification tooling only — duckdb/pandas are NOT code deps).

Usage:
  python3 tools/verify_diff.py <verifyDirA> <verifyDirB> [q_name ...]

For each query (default: every query directory in either dump) both
outputs go through oracle_compare.canon (columns sorted by name, rows by
every column) and must be equal in column names, row count and values,
NaN equal to NaN. Also reports whether the two oracle_sql.json files are
equal. Exit status 1 when any query differs or is missing on one side.
"""
import glob
import json
import os
import sys

import duckdb

from oracle_compare import canon


def queries(d: str) -> set:
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{d}/*/*.parquet")}


def rows(con: duckdb.DuckDBPyConnection, d: str, name: str):
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    if not files:
        return None
    return canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(queries(a) | queries(b))
    con = duckdb.connect()
    bad = 0
    for name in names:
        x, y = rows(con, a, name), rows(con, b, name)
        if x is None or y is None:
            verdict = f"MISSING in {'A' if x is None else 'B'}"
        elif list(x.columns) != list(y.columns):
            verdict = f"DIFF columns {list(x.columns)} vs {list(y.columns)}"
        elif not x.equals(y):
            verdict = f"DIFF rows {len(x)} vs {len(y)}"
        else:
            print(f"{name}: SAME rows={len(x)}")
            continue
        bad += 1
        print(f"{name}: {verdict}")
    with open(f"{a}/oracle_sql.json") as fa, open(f"{b}/oracle_sql.json") as fb:
        same_sql = json.load(fa) == json.load(fb)
    print(f"{len(names) - bad}/{len(names)} outputs identical as sorted row sets; "
          f"oracle_sql.json {'equal' if same_sql else 'DIFFERENT'}")
    sys.exit(1 if bad or not same_sql else 0)


if __name__ == "__main__":
    main()
