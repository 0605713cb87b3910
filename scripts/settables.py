#!/usr/bin/env python3
"""Per-file counts of default-valued parameters in Scala sources.

A settable value is a parameter that carries a default (`name: Type =
value`) in the parameter lists of a `def`, a `class` or a `case class`.
Each one is a knob a caller may turn, so the count is what a "constants
in place of default-only parameters" change shrinks.

How it counts: comments and string literals are blanked, then every
`def <name>`, `class <Name>` and `case class <Name>` is followed past an
optional `[...]` type-parameter list through its consecutive `(...)`
parameter lists. Each list is split at its top-level commas, and a
parameter counts when it holds a `:` followed by a top-level `=` that is
not part of `=>`, `==`, `<=`, `>=` or `!=`.

Limits (a regex-level reader, not a parser):
  - a primary constructor behind a modifier or annotation
    (`class X private (...)`, `class X @Inject() (...)`) is not reached;
  - a string-literal default still counts (literals are blanked, not
    dropped), but the text inside an interpolation `${...}` is not read;
  - anonymous-function parameters and Scala 3 `using` clauses are not
    handled (this codebase is Scala 2.13);
  - auxiliary constructors (`def this(...)`) count like any other `def`.

Usage: scripts/settables.py [ROOT ...]   (default: src/main)
Prints `<count>  <path>` per .scala file, sorted by path, then the total
per root. Compare two trees by running it in each checkout.
"""
import os
import re
import sys

HEAD = re.compile(r"\b(?:def\s+[\w$]+|(?:case\s+)?class\s+[\w$]+)")
PAIRS = {"(": ")", "[": "]", "{": "}"}


def blank(src):
    """Comments and string literals replaced by spaces (newlines kept)."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append('""' + re.sub(r"[^\n]", " ", src[i + 2:j - 2]) + '""')
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append('"' + " " * max(j - i - 2, 0) + '"')
            i = j
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(" " * (j - i))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def group(text, i):
    """End index (exclusive) of the bracket group opening at text[i]."""
    stack = [PAIRS[text[i]]]
    j = i + 1
    while j < len(text) and stack:
        c = text[j]
        if c in PAIRS:
            stack.append(PAIRS[c])
        elif c == stack[-1]:
            stack.pop()
        j += 1
    return j


def top_level_split(body):
    parts, depth, start = [], 0, 0
    for k, c in enumerate(body):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(body[start:k])
            start = k + 1
    parts.append(body[start:])
    return parts


def has_default(param):
    depth, seen_colon = 0, False
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif depth == 0 and c == ":":
            seen_colon = True
        elif depth == 0 and c == "=" and seen_colon:
            prev = param[k - 1] if k else ""
            nxt = param[k + 1] if k + 1 < len(param) else ""
            if nxt not in "=>" and prev not in "=<>!":
                return True
    return False


def settables(path):
    with open(path, encoding="utf-8") as f:
        text = blank(f.read())
    n = 0
    for m in HEAD.finditer(text):
        i = m.end()
        while i < len(text) and text[i].isspace():
            i += 1
        if i < len(text) and text[i] == "[":
            i = group(text, i)
        while True:
            while i < len(text) and text[i].isspace():
                i += 1
            if i >= len(text) or text[i] != "(":
                break
            j = group(text, i)
            n += sum(has_default(p) for p in top_level_split(text[i + 1:j - 1]))
            i = j
    return n


def main(roots):
    for root in roots:
        total = 0
        files = []
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, x) for x in names if x.endswith(".scala")]
        for p in sorted(files):
            c = settables(p)
            total += c
            print(f"{c:7d}  {p}")
        print(f"{total:7d}  total ({root})")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
