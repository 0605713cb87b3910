#!/usr/bin/env python3
"""Record the committed fingerprints of the queries workload, each one
checked against the DuckDB oracle first.

    python3 perfbench/oracle.py

Runs one pass of the panel with every result also written to parquet,
replays each query's oracle SQL (``SparkEntry.oracleSql``) in DuckDB over
the same tables, and compares as ``scripts/check_oracle.py`` does: columns
sorted by name, rows sorted, then equal columns, row counts, types and
values. Only when every query with an oracle matches does it write
``fingerprints.json``: per query, the row count and row digest the
benchmark observes on its timed execution. A query without an oracle is
pinned to its output at recording time and marked so.
"""
import json
import os
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(exp, got):
    """None when equal, else a one-line description of the difference."""
    exp, got = canon(exp), canon(got)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != oracle {len(exp)}"
    if list(exp.dtypes) != list(got.dtypes):
        return f"dtypes {list(got.dtypes)} != oracle {list(exp.dtypes)}"
    if not exp.equals(got):
        neq = (exp != got) & ~(exp.isna() & got.isna())
        return f"{int(neq.any(axis=1).sum())} rows differ from the oracle"
    return None


def main():
    spec = run.load_spec()["workloads"]["queries"]
    cp = run.build()
    result, _, work = run.run_jvm("queries", spec, 1, 1, 0, cp, dump=1)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{result['data_dir']}/{t}.parquet')")
    prints, bad = {}, []
    for o in result["ops"]:
        key = o["key"]
        if not o["ok"]:
            bad.append(f"{key}: {o['error']}")
            continue
        source = "recorded"
        if key in result["oracle"]:
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{o['dump']}/*.parquet')").fetchdf()
            err = compare(con.execute(result["oracle"][key]).fetchdf(), got)
            if err:
                bad.append(f"{key}: {err}")
                continue
            source = "oracle"
        prints[key] = {"rows": o["rows"], "digest": o["digest"], "checked": source}
        print(f"{source:8s} {key}: {o['rows']} rows")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(["NOT recorded; mismatches:"] + bad), file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as f:
        json.dump(dict(sorted(prints.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
