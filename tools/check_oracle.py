#!/usr/bin/env python3
"""Local pre-check of SparkEntry.oracleSql vs Verify output, mimicking the
driver's DuckDB compare (sort columns by name, sort rows, hash values).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd


def read_output(con, outdir, name):
    """One query's Verify parquet as a DataFrame, or None if it wrote none."""
    files = glob.glob(os.path.join(outdir, name, "*.parquet"))
    return con.sql(f"SELECT * FROM '{files[0]}'").df() if files else None


def canonical(df):
    """Columns sorted by name, rows sorted by every column."""
    d = df.reindex(sorted(df.columns), axis=1)
    return d.sort_values(by=list(d.columns)).reset_index(drop=True)


def content_hash(df):
    """The compare's value hash of a canonical() frame."""
    return pd.util.hash_pandas_object(df.astype(str), index=False).sum()


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    fails = 0
    # identical oracle SQL strings (the lifecycle families: q22/q22b/q109
    # bind ONE brute-force statement three times) evaluate once
    sql_cache = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = read_output(con, outdir, name)
            if got is None:
                print(f"FAIL {name}: no spark output")
                fails += 1
                continue
            if sql in sql_cache:
                want = sql_cache[sql]
            else:
                want = con.sql(sql).df()
                sql_cache[sql] = want
        except Exception as e:
            print(f"FAIL {name}: {e}")
            fails += 1
            continue
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            fails += 1
            continue
        if [str(d) for d in g.dtypes] != [str(d) for d in w.dtypes]:
            print(f"WARN {name}: dtypes {list(map(str,g.dtypes))} vs {list(map(str,w.dtypes))}")
        gs, ws = canonical(g), canonical(w)
        if len(gs) != len(ws):
            print(f"FAIL {name}: rows {len(gs)} vs {len(ws)}")
            fails += 1
            continue
        if content_hash(gs) != content_hash(ws):
            diff = (gs.astype(str) != ws.astype(str)).any(axis=1)
            bad = gs[diff].head(3)
            badw = ws[diff].head(3)
            print(f"FAIL {name}: value mismatch on {diff.sum()}/{len(gs)} rows")
            print("  spark:", bad.to_dict("records"))
            print("  duckdb:", badw.to_dict("records"))
            fails += 1
            continue
        print(f"OK   {name}: {len(gs)} rows")
    print(f"{'ALL OK' if fails == 0 else f'{fails} FAILURES'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
