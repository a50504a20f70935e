#!/usr/bin/env python3
"""Count code lines of source files.

A code line is a non-blank line that is not a `//` comment line and does
not lie inside a `/** ... */` (or `/* ... */`) block comment.

Usage:
    python3 tools/loc.py FILE...

Prints one "<count>  <file>" line per file, then the total when more
than one file is given.
"""
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for p in paths:
        c = code_lines(p)
        total += c
        print(f"{c:>7}  {p}")
    if len(paths) > 1:
        print(f"{total:>7}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
