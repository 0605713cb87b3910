#!/usr/bin/env python3
"""Per-file code-line counts for Scala sources.

A code line is a line that is
  - not blank,
  - not a `//` comment line (first non-space characters are `//`),
  - not inside a `/** ... */` doc block (the opening and closing lines
    included).
Code after a closing `*/` on the same line is not counted; the rule is a
line classifier, not a lexer, and this codebase never puts code there.

Usage: scripts/code_lines.py [ROOT ...]   (default: src/main)
Prints `<count>  <path>` per .scala file, sorted by path, then the total
per root. Compare two trees by running it in each checkout.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_doc = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_doc:
                if "*/" in line:
                    in_doc = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/**"):
                in_doc = "*/" not in line[3:]
                continue
            n += 1
    return n


def main(roots):
    for root in roots:
        total = 0
        files = []
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, x) for x in names if x.endswith(".scala")]
        for p in sorted(files):
            c = code_lines(p)
            total += c
            print(f"{c:7d}  {p}")
        print(f"{total:7d}  total ({root})")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
