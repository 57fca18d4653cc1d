#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala sources.

Usage (from the root of a checkout):

    python3 tools/loc.py [path ...]     # default: src/main

Each path is a .scala file or a directory searched for them. A line is
blank when it holds only whitespace; a comment when it starts with `//`
or lies inside a `/* ... */` block (the opening and closing lines
included); code otherwise. Lines of SQL strings are code. Prints one line
per path and, for several paths, their total.
"""
import os
import sys


def count(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".scala"))
    code = comment = blank = 0
    for name in files:
        in_block = False
        with open(name, encoding="utf-8") as fh:
            for raw in fh:
                line = raw.strip()
                if in_block:
                    comment += 1
                    in_block = "*/" not in line
                elif not line:
                    blank += 1
                elif line.startswith("//"):
                    comment += 1
                elif line.startswith("/*"):
                    comment += 1
                    in_block = "*/" not in line[2:]
                else:
                    code += 1
    return code, comment, blank


def main(paths):
    totals = [0, 0, 0]
    for path in paths:
        if not os.path.exists(path):
            sys.exit(f"loc.py: no such path: {path}")
        c = count(path)
        totals = [t + x for t, x in zip(totals, c)]
        print(f"{path}: code {c[0]}  comment {c[1]}  blank {c[2]}")
    if len(paths) > 1:
        print(f"total: code {totals[0]}  comment {totals[1]}  blank {totals[2]}")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
