"""Driver-protocol verification: plain SparkSession, __spark_entry__ contract,
exact (bitwise) compare vs DuckDB oracles. Usage:
  python tools/drive_driver_protocol.py [sf_dir] [name_substring ...]
Env: DRIVE_PARTS (shuffle partitions, default 8), DRIVE_CORES (default 8) —
run with odd values to flush partition-order-dependent results.
"""
import os, sys, math
# import this script's own checkout, so a copy of the repo checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2:]
spark = (SparkSession.builder.master(f"local[{os.environ.get('DRIVE_CORES', '8')}]")
         .config("spark.sql.shuffle.partitions", os.environ.get("DRIVE_PARTS", "8"))
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

def canon(df):
    df = df[sorted(df.columns)].copy()
    return df.sort_values(list(df.columns)).reset_index(drop=True)

qs, orcs = e.queries(), e.oracle_sql()
names = [n for n in qs if not only or any(s in n for s in only)]
fails = 0
for n in names:
    try:
        sp = qs[n](spark, sf).toPandas()
    except Exception as ex:
        print(f"ERR  {n}: {type(ex).__name__}: {ex}"[:300]); fails += 1; continue
    if n not in orcs:
        # rows-only: canonicalize must not crash
        try:
            canon(sp); print(f"rows {n}: {len(sp)} rows")
        except Exception as ex:
            print(f"ERR  {n}: canon crash {ex}"[:200]); fails += 1
        continue
    try:
        orc = con.execute(orcs[n]).df()
    except Exception as ex:
        print(f"ERR  {n}: oracle: {ex}"[:300]); fails += 1; continue
    a, b = canon(sp), canon(orc)
    if len(a) != len(b):
        print(f"FAIL {n}: rows {len(a)} vs {len(b)}"); fails += 1; continue
    if list(a.columns) != list(b.columns):
        print(f"FAIL {n}: cols {list(a.columns)} vs {list(b.columns)}"); fails += 1; continue
    bad = None
    for c in a.columns:
        av, bv = a[c], b[c]
        for i in range(len(av)):
            x, y = av.iloc[i], bv.iloc[i]
            if isinstance(x, float) or isinstance(y, float):
                xf, yf = float(x), float(y)
                ok = (math.isnan(xf) and math.isnan(yf)) or \
                     (xf == yf and math.copysign(1, xf) == math.copysign(1, yf))
            else:
                ok = x == y
            if not ok:
                bad = (c, i, x, y); break
        if bad: break
    if bad:
        print(f"FAIL {n}: col {bad[0]} row {bad[1]}: {bad[2]!r} vs {bad[3]!r}"); fails += 1
    else:
        print(f"ok   {n}: {len(a)} rows")
print(f"== {len(names)} checked, {fails} failures, sf={sf}")
sys.exit(1 if fails else 0)
