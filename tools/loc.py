#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per path.

Usage: python3 tools/loc.py PATH [PATH ...]

A PATH is a .scala file or a directory (searched recursively for .scala
files). A line counts unless it is blank or, once stripped, starts with
`//`, `*`, `/**` or `*/` -- line comments and scaladoc bodies. Prints one
line per PATH and, for several PATHs, their total.
"""
import os
import sys

COMMENT_PREFIXES = ("//", "*", "/**", "*/")


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(root, name)
                  for root, _, names in os.walk(path)
                  for name in names if name.endswith(".scala"))


def code_lines(file):
    with open(file, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.strip().startswith(COMMENT_PREFIXES))


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for path in paths:
        n = sum(code_lines(f) for f in scala_files(path))
        total += n
        print(f"{n:8d}  {path}")
    if len(paths) > 1:
        print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
