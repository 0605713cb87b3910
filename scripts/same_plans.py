#!/usr/bin/env python3
"""Compare the physical plans of two `graft.Explain -x` outputs.

Usage: scripts/same_plans.py A B

A and B are the stdout of
    sbt "runMain graft.Explain <sfDir> <query...> -x -n 1"
(one fresh JVM each). Each output is split into one section per
`==== <name> plan ====` header. Before two sections are compared, every
run-varying token is masked:
  - expression ids            `#123`
  - Spark Connect plan ids    `plan_id=123`
  - lambda-variable suffixes  `x_123`, `y_45`, ... (one lowercase letter,
    `_`, digits: the fresh names the higher-order functions draw)
  - the temporary warehouse   `graft_wh123...`
  - streaming temp dirs       `graft_stream_sink123...` (the parquet sink a
    streaming query's result is read from), `graft_incr_src123...`
  - RDD ids                   `MapPartitionsRDD[3366]` (localCheckpoint)
  - call-site lines           `PipelineOps.scala:224` (they move with
    any edit above them)
  - JVM lambda classes        `$Lambda$6291/0x00007f2a29aac5b0`
    (typed Dataset functions)
  - object identity hashes    `TopKAggregator@3437aa1b`
Lines that are not plan text (sbt `[info]`/`[success]` lines, the
`[explain]` timing lines, log4j lines) are dropped.

Prints `DIFF <name>` (with the first differing line of each side) for each
query whose masked plans differ, `ONLY-A`/`ONLY-B` for a query present in
one output only, and a summary line. Exits 1 if anything differs, else 0.
"""
import re
import sys

HEADER = re.compile(r"^==== (\S+) plan ====$")
NOISE = re.compile(r"^(\[(info|success|warn|error|explain)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d )")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([a-z])_\d+\b"), r"\1_N"),
    (re.compile(r"graft_wh\d+"), "graft_whN"),
    (re.compile(r"graft_(stream_sink|incr_src)\d+"), r"graft_\1N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(\w)@[0-9a-f]+\b"), r"\1@H"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def sections(path):
    out = {}
    name = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not NOISE.match(line):
                out[name].append(mask(line))
    # trailing blank lines are layout, not plan
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in b:
            print(f"ONLY-A {name}")
            bad += 1
        elif name not in a:
            print(f"ONLY-B {name}")
            bad += 1
        elif a[name] != b[name]:
            bad += 1
            i = next((k for k, (x, y) in enumerate(zip(a[name], b[name])) if x != y),
                     min(len(a[name]), len(b[name])))
            la = a[name][i] if i < len(a[name]) else "<end>"
            lb = b[name][i] if i < len(b[name]) else "<end>"
            print(f"DIFF {name} (line {i + 1})\n  A: {la}\n  B: {lb}")
    print(f"{len(set(a) | set(b)) - bad} same, {bad} different")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
