"""Simulate the driver: vanilla SparkSession (NOT our Engine), import
__spark_entry__, smoke entry(), run every queries() entry at sf0.01,
run oracle_sql() in DuckDB with pre-registered views, compare
row-count + schema + order-insensitive value hash."""
import hashlib, os, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

# t1 smoke
df = E.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) >= 0

qs, os_ = E.queries(), E.oracle_sql()
orphans = set(os_) - set(qs)
print(f"queries={len(qs)} oracles={len(os_)} orphan_oracles={orphans}")
# an orphan oracle is a renamed/retired query's stale key: the driver
# would silently never compare it — treat as a failure HERE so the
# drift is caught before a round stamp, not by the judge
assert not orphans, f"oracle keys with no matching query: {orphans}"

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def vhash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(repr([str(v) for v in r]) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]

fails = 0
for name, fn in qs.items():
    t0 = time.time()
    got = fn(spark, SF).toPandas()
    if name in os_:
        want = con.execute(os_[name]).df()
        ok_n = len(got) == len(want)
        ok_s = sorted(got.columns) == sorted(want.columns)
        ok_h = vhash(got) == vhash(want)
        status = "OK" if (ok_n and ok_s and ok_h) else f"MISMATCH n={ok_n} schema={ok_s} hash={ok_h}"
        if not (ok_n and ok_s and ok_h):
            fails += 1
    else:
        status = f"rows-only ({len(got)})"
    print(f"  {name}: {status} [{time.time()-t0:.1f}s]")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
