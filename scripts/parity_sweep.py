"""Full-registry oracle parity sweep at an arbitrary scale.

Replays EVERY registered query 1:1 against its DuckDB oracle with the
driver's own comparison (canon-sorted md5 value-hash) — the r7/r8
scale-certification pass that caught two real sf0.1-only bugs in r7.

Usage:
    python scripts/parity_sweep.py [sf_dir] [name_substring ...]

Defaults to /root/testdata/sf0.1 and the whole registry; positional
substrings filter query names (OR-ed). Each passing query prints
`ok <name> <md5> <rows>`: parity alone cannot catch a refactor that
moves a Spark builder and its oracle together, so diff these lines
between two checkouts to prove the results themselves are unchanged. PARITY_SF_DIR is force-pinned
to the swept dir before the registry import so the footer-metadata
oracle (table_file_metadata, and the digest folding it) registers
against the same scale the Spark side runs at — no query is skipped.
"""
import hashlib
import json
import os
import sys

# the checkout this script lives in, wherever it was cloned
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

args = sys.argv[1:]
# the sf_dir argument is whatever first arg names an actual directory
# (a bare relative name like "sf0.1" counts); everything else is a
# query-name filter — the old "/"-in-string heuristic silently routed
# a relative sf_dir into the filter list and swept the default dir
if args and (os.path.isdir(args[0]) or "/" in args[0]):
    SF = os.path.abspath(args[0])
    filters = args[1:]
else:
    SF = "/root/testdata/sf0.1"
    filters = args

# table_file_metadata (and the digest folding it) resolves parquet
# footer paths at registration time against PARITY_SF_DIR — pin it to
# the swept scale BEFORE __spark_entry__ imports the registry. A plain
# assignment, not setdefault: an inherited export (e.g. from a prior
# test run) would register the oracle at one scale while Spark runs at
# another and false-fail the sweep.
os.environ["PARITY_SF_DIR"] = SF

con = duckdb.connect()  # BEFORE any Spark import (memory gotcha)
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

import __spark_entry__ as e  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from trino_adaptive_partitioning_tool_spark.session import (  # noqa: E402
    default_driver_memory,
)

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    # the ONLY divergence from the driver's plain session: its default
    # 1g driver heap dies mid-sweep at sf0.1 (196 queries + persisted
    # assignment frames in one JVM); sized to the host like get_spark's
    # (a 16g heap on a 16 GB host gets the JVM killed); correctness
    # semantics unchanged
    .config("spark.driver.memory", default_driver_memory())
    .getOrCreate()
)

qs, oracles = e.queries(), e.oracle_sql()
names = [
    n
    for n in qs
    if (not filters or any(f in n for f in filters))
]


import datetime as _dt

import pandas as _pd


def _canon_val(v):
    # DATE vs midnight-TIMESTAMP render differently across the Arrow /
    # non-Arrow toPandas paths and the DuckDB df() path ('1995-01-31'
    # vs '1995-01-31 00:00:00'); the driver never pandas-compares the
    # digest-folded queries, so the sweep normalizes temporal values to
    # ISO instants instead of failing on a stringification artifact.
    if isinstance(v, (_pd.Timestamp, _dt.datetime)):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        tuple(_canon_val(v) for v in row)
        for row in df.itertuples(index=False)
    )
    return hashlib.md5(json.dumps(rows).encode()).hexdigest(), len(df)


fails = []
for name in names:
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
        if hs == hd and ns == nd:
            print(f"ok {name} {hs} {ns}", flush=True)
        else:
            fails.append(name)
            print(f"FAIL {name} spark={ns} oracle={nd}", flush=True)
    except Exception as exc:  # noqa: BLE001
        fails.append(name)
        print(f"ERR {name}: {exc!r}", flush=True)

print(f"\n{len(names) - len(fails)}/{len(names)} pass at {SF}; fails={fails}")
sys.exit(1 if fails else 0)
