#!/usr/bin/env python3
"""Compare the oracle SQL of two `graft.Verify` dumps, key by key.

Usage: scripts/same_oracle.py A B

A and B are `oracle_sql.json` files (or the directories holding them), as
written by
    SPARK_GRAFT_ONLY='^none$' sbt "runMain graft.Verify <sfDir> <outDir>"
(the filter skips every query run; the oracle map is dumped in full).

Prints `DIFF <key>` (with the first differing character offset and a short
window of each side) for each key whose SQL text is not byte-identical,
`ONLY-A`/`ONLY-B` for a key present in one dump only, and a summary line.
When anything differs it also prints a ready `SPARK_GRAFT_ONLY='^(k1|k2)$'`
filter of the keys whose B text is new or changed, for re-running Verify and
check_oracle.py on just those keys. Exits 1 if anything differs, else 0.
"""
import json
import os
import re
import sys


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "oracle_sql.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def first_diff(x, y):
    return next((i for i, (p, q) in enumerate(zip(x, y)) if p != q),
                min(len(x), len(y)))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    bad = 0
    rerun = []
    for key in sorted(set(a) | set(b)):
        if key not in b:
            print(f"ONLY-A {key}")
            bad += 1
        elif key not in a:
            print(f"ONLY-B {key}")
            bad += 1
            rerun.append(key)
        elif a[key] != b[key]:
            bad += 1
            rerun.append(key)
            i = first_diff(a[key], b[key])
            lo = max(0, i - 30)
            print(f"DIFF {key} (char {i})\n  A: ...{a[key][lo:i + 40]!r}\n"
                  f"  B: ...{b[key][lo:i + 40]!r}")
    print(f"{len(set(a) | set(b)) - bad} same, {bad} different")
    if rerun:
        keys = "|".join(re.escape(k) for k in rerun)
        print(f"SPARK_GRAFT_ONLY='^({keys})$'")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
