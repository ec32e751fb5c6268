#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped
by graft.Verify, run the oracle SQL in DuckDB over the same parquet
tables, sort columns by name (and rows), and hash-compare values.
Every key of oracle_sql.json must have a dump directory: a missing one
(the row threw) is a failure.
Usage: check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, math
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

class ArrayCell(Exception):
    """The driver's comparator crashes on array-typed cells (pandas
    sort_values -> unhashable numpy.ndarray); treat them as failures
    here too so local runs predict the driver gate."""

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if hasattr(v, "tolist") or isinstance(v, (list, tuple)):
            raise ArrayCell()
        return v
    rows = sorted((tuple(norm(v) for v in r) for r in df.itertuples(index=False, name=None)), key=repr)
    return rows

def kinds(df: pd.DataFrame):
    """dtype kind per (name-sorted) column: the driver hash-compares raw
    values, so int64 3 vs float64 3.0 (e.g. Spark BIGINT vs DuckDB
    HUGEINT) is a mismatch even though Python == equates them."""
    return {c: df[c].dtype.kind for c in sorted(df.columns)}

fails = 0
dumped = {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}
# Verify writes no directory for a row that threw: an oracle key with
# no dump is a failure, not a skip
for name in sorted(set(oracle) - dumped):
    print(f"{name:24s} MISSING (no dump directory: the row threw or was not run)")
    fails += 1
for name in sorted(dumped):
    path = os.path.join(outdir, name)
    spark_df = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    if name not in oracle:
        print(f"{name:24s} rows-only: {len(spark_df)} rows " + ("OK" if len(spark_df) > 0 else "EMPTY!"))
        if len(spark_df) == 0: fails += 1
        continue
    try:
        ora_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:24s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    try:
        a, b = canon(spark_df), canon(ora_df)
    except ArrayCell:
        print(f"{name:24s} ARRAY CELL (driver comparator would crash)")
        fails += 1
        continue
    if sorted(spark_df.columns) != sorted(ora_df.columns):
        print(f"{name:24s} SCHEMA MISMATCH spark={sorted(spark_df.columns)} oracle={sorted(ora_df.columns)}")
        fails += 1
    elif kinds(spark_df) != kinds(ora_df):
        print(f"{name:24s} DTYPE MISMATCH spark={kinds(spark_df)} oracle={kinds(ora_df)}")
        fails += 1
    elif a == b:
        print(f"{name:24s} MATCH ({len(a)} rows)")
    else:
        print(f"{name:24s} VALUE MISMATCH spark_rows={len(a)} oracle_rows={len(b)}")
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                print(f"   first diff row {i}:\n   spark : {x}\n   oracle: {y}")
                break
        fails += 1
print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
