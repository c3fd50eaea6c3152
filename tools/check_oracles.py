#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracles.py <sfdir> <voutdir> [query ...]

Reads <voutdir>/oracle_sql.json (dumped by graft.Verify), registers each
<sfdir>/<table>.parquet as a DuckDB view, runs every oracle, and compares
against the Spark parquet result in <voutdir>/<query>/ the same way the
driver does: row count, column names, and a hash over values with columns
sorted by name (rows sorted by all columns). An oracle whose query wrote no
output dir (graft.Verify logs a failed query and moves on) is a FAIL.
"""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints/floats for comparison
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list,)) else v)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    sfdir, vout = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{vout}/oracle_sql.json"))
    fails, passes, skipped = [], [], []
    for name in sorted(os.listdir(vout)):
        d = os.path.join(vout, name)
        if not os.path.isdir(d):
            continue
        if only and name not in only:
            continue
        spark_df = pq.read_table(d).to_pandas()
        if name not in oracles:
            skipped.append((name, len(spark_df)))
            continue
        try:
            ora_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            fails.append((name, f"oracle SQL error: {e}"))
            continue
        a, b = canon(spark_df), canon(ora_df)
        if len(a) != len(b):
            fails.append((name, f"rows {len(a)} != {len(b)}"))
            continue
        if list(a.columns) != list(b.columns):
            fails.append((name, f"cols {list(a.columns)} != {list(b.columns)}"))
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=False, rtol=0, atol=0)
            passes.append(name)
        except AssertionError as e:
            fails.append((name, str(e).splitlines()[-1][:200]))
    for name in sorted(oracles):
        if (not only or name in only) and not os.path.isdir(os.path.join(vout, name)):
            fails.append((name, "missing output"))
    for n in passes:
        print(f"PASS  {n}")
    for n, rows in skipped:
        print(f"SKIP  {n} (no oracle, {rows} rows)")
    for n, msg in fails:
        print(f"FAIL  {n}: {msg}")
    print(f"\n{len(passes)} pass, {len(skipped)} no-oracle, {len(fails)} fail")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
