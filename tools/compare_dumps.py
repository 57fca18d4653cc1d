#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/compare_dumps.py <parentOut> <changeOut> [query ...]

For each <name>.parquet in <parentOut> (or only the named queries), checks
with DuckDB that <changeOut> holds the same result:
  - the same column names and types, in the same order;
  - the same row count;
  - EXCEPT ALL empty in both directions (equal as multisets of rows).
Prints one line per query and exits 1 naming every query that differs
(a query missing from either side differs).

Apart from the rows, compares the <name>.plan files (the executed plan's
node names, one per line, that Verify writes next to each result) and
prints `plan moved: <name>` with the first differing line for each query
whose plan shape changed. A moved plan does not change the exit code.
"""
import os
import sys

import duckdb


def dumped(out_dir):
    return sorted(f[: -len(".parquet")] for f in os.listdir(out_dir)
                  if f.endswith(".parquet"))


def relation(out_dir, name):
    path = os.path.join(out_dir, f"{name}.parquet")
    glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    return f"read_parquet('{glob}')"


def differences(con, a, b):
    """Reasons why relations a and b differ; empty when they are equal."""
    schema_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
    schema_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
    cols_a = [(r[0], r[1]) for r in schema_a]
    cols_b = [(r[0], r[1]) for r in schema_b]
    if cols_a != cols_b:
        return [f"columns differ: {cols_a} vs {cols_b}"]
    problems = []
    (n_a,) = con.execute(f"SELECT count(*) FROM {a}").fetchone()
    (n_b,) = con.execute(f"SELECT count(*) FROM {b}").fetchone()
    if n_a != n_b:
        problems.append(f"row count {n_a} vs {n_b}")
    for x, y, label in ((a, b, "only in parent"), (b, a, "only in change")):
        (n,) = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})"
        ).fetchone()
        if n:
            problems.append(f"{n} rows {label}")
    return problems


def plan_move(parent, change, name):
    """The first line where <name>.plan differs between the two dumps, or
    None when both plans are equal or either side has none."""
    paths = [os.path.join(d, f"{name}.plan") for d in (parent, change)]
    if not all(os.path.exists(p) for p in paths):
        return None
    a, b = (open(p, encoding="utf-8").read().splitlines() for p in paths)
    if a == b:
        return None
    i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    at = lambda lines: lines[i] if i < len(lines) else "<end>"
    return f"line {i + 1}: {at(a)} -> {at(b)}"


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    parent, change = argv[0], argv[1]
    names = argv[2:] or dumped(parent)
    con = duckdb.connect()
    differing = []
    for name in names:
        missing = [d for d in (parent, change)
                   if not os.path.exists(os.path.join(d, f"{name}.parquet"))]
        problems = ([f"no dump in {', '.join(missing)}"] if missing
                    else differences(con, relation(parent, name), relation(change, name)))
        print(f"{'DIFF' if problems else 'same'} {name}"
              + (f": {'; '.join(problems)}" if problems else ""))
        if problems:
            differing.append(name)
        moved = plan_move(parent, change, name)
        if moved:
            print(f"plan moved: {name}: {moved}")
    print(f"{len(names) - len(differing)}/{len(names)} identical")
    if differing:
        print("differing: " + " ".join(differing))
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
