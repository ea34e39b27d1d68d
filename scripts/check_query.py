"""Dev harness: compare selected queries against their DuckDB oracles.

Usage: python scripts/check_query.py [name ...] [--sf DIR]
No names → all registered queries. Prints per-query status and, on
mismatch, the first differing rows from both sides.
"""
import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def vhash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(repr([str(v) for v in r]) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def canon_rows(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    return sorted((repr([str(v) for v in r]), r) for r in df.itertuples(index=False, name=None))


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-query")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    if not names:
        names = list(qs)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    fails = 0
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, sf).toPandas()
        except Exception as e:
            print(f"  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            fails += 1
            continue
        if name not in os_:
            print(f"  {name}: rows-only ({len(got)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as e:
            print(f"  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            fails += 1
            continue
        ok_n = len(got) == len(want)
        ok_s = sorted(got.columns) == sorted(want.columns)
        ok_h = vhash(got) == vhash(want)
        if ok_n and ok_s and ok_h:
            print(f"  {name}: OK ({len(got)} rows) [{time.time()-t0:.1f}s]")
            continue
        fails += 1
        print(f"  {name}: MISMATCH n={ok_n} ({len(got)} vs {len(want)}) schema={ok_s} hash={ok_h}")
        if not ok_s:
            print(f"    spark cols:  {sorted(got.columns)}")
            print(f"    oracle cols: {sorted(want.columns)}")
        if ok_s:
            g, w = canon_rows(got), canon_rows(want)
            gset = {k for k, _ in g}
            wset = {k for k, _ in w}
            only_g = [r for k, r in g if k not in wset][:5]
            only_w = [r for k, r in w if k not in gset][:5]
            for r in only_g:
                print(f"    spark-only:  {r}")
            for r in only_w:
                print(f"    oracle-only: {r}")
    print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
