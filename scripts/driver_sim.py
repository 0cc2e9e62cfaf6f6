"""Local replica of the driver's correctness gate: plain session, first
50 queries, canon-sorted md5 value-hash vs DuckDB at sf0.01."""
import hashlib
import json
import os
import sys

# the checkout this script lives in, wherever it was cloned
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF = "/root/testdata/sf0.01"
con = duckdb.connect()  # BEFORE any Spark import (memory gotcha)
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

import __spark_entry__ as e  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .getOrCreate()
)

qs, oracles = e.queries(), e.oracle_sql()
window = list(qs)[:50]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.md5(json.dumps(rows).encode()).hexdigest(), len(df)


fails = []
for name in window:
    try:
        sdf = qs[name](spark, SF).toPandas()
        ddf = con.execute(oracles[name]).df()
        for c in sdf.columns:
            if str(sdf[c].dtype).startswith("float"):
                sdf[c] = sdf[c].astype("float64")
        for c in ddf.columns:
            if str(ddf[c].dtype).startswith("float"):
                ddf[c] = ddf[c].astype("float64")
        hs, ns = canon(sdf)
        hd, nd = canon(ddf)
        ok = hs == hd and ns == nd
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
        print(f"{status} {name} spark={ns} oracle={nd}", flush=True)
    except Exception as exc:  # noqa: BLE001
        fails.append(name)
        print(f"ERR {name}: {exc!r}", flush=True)

print(f"\n{50 - len(fails)}/50 pass; fails={fails}")
sys.exit(1 if fails else 0)
