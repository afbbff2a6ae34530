#!/usr/bin/env python3
"""Diff two graft.Verify output dirs query by query, with the
sorted-content hash tools/check_oracle.py compares against DuckDB
(columns sorted by name, rows sorted, values hashed as strings).

Prints every query whose columns, row count or hash differ, or that has
output on one side only, then a summary line. Exit status 1 if any
query differs.

Usage: python3 tools/diff_verify.py <verifyOutA> <verifyOutB>
"""
import os, sys
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canonical, content_hash, read_output


def fingerprints(con, outdir):
    """{query: (sorted columns, rows, hash)} for every query dir in outdir."""
    out = {}
    for name in sorted(os.listdir(outdir)):
        if os.path.isdir(os.path.join(outdir, name)):
            df = read_output(con, outdir, name)
            if df is not None:
                c = canonical(df)
                out[name] = (list(c.columns), len(c), content_hash(c))
    return out


def describe(fp):
    return "missing" if fp is None else f"{fp[1]} rows, hash {fp[2]}"


def main(a, b):
    con = duckdb.connect()
    fa, fb = fingerprints(con, a), fingerprints(con, b)
    names = sorted(fa.keys() | fb.keys())
    differ = [n for n in names if fa.get(n) != fb.get(n)]
    for n in differ:
        print(f"DIFF {n}: {describe(fa.get(n))} vs {describe(fb.get(n))}")
    print(f"{len(names) - len(differ)} identical, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
