#!/usr/bin/env python3
"""Run the changed oracle texts of two `graft.Verify` dumps and compare rows.

Usage: scripts/same_rows.py A B SFDIR

A and B are `oracle_sql.json` files (or the directories holding them), as
written by
    SPARK_GRAFT_ONLY='^none$' sbt "runMain graft.Verify <sfDir> <outDir>"
For every key whose SQL text differs between A and B (the keys
`same_oracle.py` reports), both texts run in DuckDB over the parquet tables
of SFDIR, and the two results are compared: column names and order, dtypes,
and rows after sorting. A key present in one dump only counts as different.

Prints `SAME <key> (N rows)` or `DIFF <key>: <what>` per changed key and a
summary line. Exits 1 if any changed key gives different results, else 0.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "oracle_sql.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def sorted_rows(df):
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(con, sql_a, sql_b):
    """None when both texts give the same result, else what differs."""
    a, b = con.execute(sql_a).fetchdf(), con.execute(sql_b).fetchdf()
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}", len(a)
    if list(a.dtypes) != list(b.dtypes):
        return f"dtypes {list(a.dtypes)} != {list(b.dtypes)}", len(a)
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}", len(a)
    if not sorted_rows(a).equals(sorted_rows(b)):
        return "row values differ", len(a)
    return None, len(a)


def main(argv):
    if len(argv) != 4:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    con = connect(argv[3])
    changed = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    bad = 0
    for key in changed:
        if key not in a or key not in b:
            print(f"DIFF {key}: present in {'B' if key in b else 'A'} only")
            bad += 1
            continue
        what, n = compare(con, a[key], b[key])
        if what:
            print(f"DIFF {key}: {what}")
            bad += 1
        else:
            print(f"SAME {key} ({n} rows)")
    print(f"{len(changed) - bad} same, {bad} different")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
