#!/usr/bin/env python3
"""Diff two graft.Verify output dirs query by query, with the
sorted-content hash tools/check_oracle.py compares against DuckDB
(columns sorted by name, rows sorted, values hashed as strings).

Prints every query whose columns, row count or hash differ, or that has
output on one side only; then every oracle in the two dirs'
oracle_sql.json that was added, dropped or changed (compared as parsed
strings); then a summary line counting both. Exit status 1 if any query
or oracle differs.

Usage: python3 tools/diff_verify.py <verifyOutA> <verifyOutB>
"""
import json, os, sys
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


def oracles(outdir):
    """{query: oracle SQL} from outdir's oracle_sql.json ({} if absent)."""
    path = os.path.join(outdir, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def main(a, b):
    con = duckdb.connect()
    fa, fb = fingerprints(con, a), fingerprints(con, b)
    names = sorted(fa.keys() | fb.keys())
    differ = [n for n in names if fa.get(n) != fb.get(n)]
    for n in differ:
        print(f"DIFF {n}: {describe(fa.get(n))} vs {describe(fb.get(n))}")
    oa, ob = oracles(a), oracles(b)
    onames = sorted(oa.keys() | ob.keys())
    odiffer = [n for n in onames if oa.get(n) != ob.get(n)]
    for n in odiffer:
        what = "added" if n not in oa else "dropped" if n not in ob else "changed"
        print(f"ORACLE {what} {n}")
    print(f"{len(names) - len(differ)} identical, {len(differ)} differ; "
          f"{len(onames) - len(odiffer)} oracles identical, {len(odiffer)} differ")
    return 1 if differ or odiffer else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
