"""Generate (name, exact_cols, double_cols) digest specs for candidate
queries by comparing the Spark result schema (lazy, no execution) with
the DuckDB oracle schema (LIMIT 0). Timestamp columns go in exact_cols
(digests VARCHAR-compare them — same convention as the hand-written
_STREAMING specs). Helper for authoring queries/suites.py — run
manually, paste output."""
import os, sys

# the checkout this script lives in, wherever it was cloned
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

CANDIDATES = sys.argv[1:]

con = duckdb.connect()
SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

from trino_adaptive_partitioning_tool_spark.session import get_spark
from trino_adaptive_partitioning_tool_spark.queries import registry
spark = get_spark(app_name="specgen")
qs = registry.queries()
ors = registry.oracle_sql()

FLOATY = {"DOUBLE", "FLOAT", "REAL"}
for name in CANDIDATES:
    df = qs[name](spark, SF)
    sfields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rel = con.sql(f"SELECT * FROM ({ors[name]}) q LIMIT 0")
    dtypes = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
    exact, dbl = [], []
    rows = con.sql(f"SELECT COUNT(*) FROM ({ors[name]}) q").fetchone()[0]
    for c in df.schema.fieldNames():  # preserve Spark column order
        st, dt = sfields[c], dtypes.get(c, "?")
        is_ts = st.startswith("timestamp") or "TIMESTAMP" in dt
        if not is_ts and (st in ("double", "float") or dt in FLOATY or dt.startswith("DECIMAL") != st.startswith("decimal")):
            dbl.append(c)
        else:
            exact.append(c)
    print(f'    ("{name}", {exact!r}, {dbl!r}),  # rows={rows} spark={ [ (c, sfields[c]) for c in sfields ] } duck={dtypes}')
