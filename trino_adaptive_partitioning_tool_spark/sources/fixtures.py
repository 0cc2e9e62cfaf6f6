"""Deterministic engine fixtures: query log + materialized-view catalog.

The reference mines `system.runtime.queries` and the MV catalog from a live
Trino cluster (reference: src/trino_client.py:22-63, src/cli.py:22-58).
There is no cluster here, so this module is the single source of truth for
an equivalent synthetic workload over the driver-provided TPC-H-ish tables:

* ``query_logs_df(spark)``   — the 9-column query-log table (FIXTURES.md B1)
* ``catalog_views_df(spark)``— MV catalog rows with underlying-query DDL
* ``*_values_cte()``         — the SAME rows rendered as an ANSI VALUES CTE
  so DuckDB oracle SQL can reproduce every fixture-driven result exactly.

Rows are literal constants (seedless, reviewable); the workload references
only real tables/columns from /root/testdata so downstream stats joins hit
real data. Coverage requirements from FIXTURES.md B1: JOIN..ON clauses,
WHERE predicates, LIMIT queries (interactive heuristic), one unparseable
statement, NULL metric values, and a skewed metric distribution.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..memo import session_memo

QUERY_LOG_COLUMNS = (
    "query_id",
    "query",
    "create_time",
    "execution_time_ms",
    "cpu_time_ms",
    "scheduled_time_ms",
    "input_bytes",
    "peak_memory_bytes",
    "peak_total_memory_bytes",
)

QUERY_LOG_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("query", T.StringType(), False),
        T.StructField("create_time", T.TimestampType(), True),
        T.StructField("execution_time_ms", T.LongType(), True),
        T.StructField("cpu_time_ms", T.LongType(), True),
        T.StructField("scheduled_time_ms", T.LongType(), True),
        T.StructField("input_bytes", T.LongType(), True),
        T.StructField("peak_memory_bytes", T.LongType(), True),
        T.StructField("peak_total_memory_bytes", T.LongType(), True),
    ]
)


def _ts(s: str) -> _dt.datetime:
    return _dt.datetime.fromisoformat(s)


# (query_id, query, create_time, exec_ms, cpu_ms, sched_ms, input_bytes,
#  peak_mem, peak_total_mem)
QUERY_LOG_ROWS: list[tuple] = [
    (
        "q_0001",
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate >= DATE '1995-01-01' ORDER BY o_totalprice DESC LIMIT 10",
        _ts("2025-05-01 08:00:00"),
        1200, 800, 150, 1_000_000, 64_000_000, 96_000_000,
    ),
    (
        "q_0002",
        "SELECT c_mktsegment, count(*) FROM customer GROUP BY c_mktsegment",
        _ts("2025-05-01 09:30:00"),
        4500, 3000, 400, 8_000_000, 128_000_000, 160_000_000,
    ),
    (
        "q_0003",
        "SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING'",
        _ts("2025-05-02 10:00:00"),
        15000, 11000, 900, 64_000_000, 512_000_000, 768_000_000,
    ),
    (
        "q_0004",
        "SELECT l_orderkey, sum(l_extendedprice) FROM lineitem WHERE l_shipdate < DATE '1996-01-01' GROUP BY l_orderkey",
        _ts("2025-05-03 11:15:00"),
        32000, 26000, 2000, 256_000_000, 1_024_000_000, 1_536_000_000,
    ),
    (
        "q_0005",
        "SELECT l.l_orderkey, o.o_orderdate, c.c_name FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey",
        _ts("2025-05-04 12:00:00"),
        900000, 720000, 45000, 4_000_000_000, 8_000_000_000, 12_000_000_000,
    ),
    (
        "q_0006",
        "SELECT event_type, count(*) FROM events WHERE ts > TIMESTAMP '2025-01-01 00:00:00' GROUP BY event_type",
        _ts("2025-05-05 13:00:00"),
        7000, 5200, 600, 32_000_000, 256_000_000, 384_000_000,
    ),
    (
        "q_0007",
        "SELECT event_id, value FROM events WHERE user_id = 42 LIMIT 100",
        _ts("2025-05-06 14:30:00"),
        600, 350, 80, 500_000, 32_000_000, 48_000_000,
    ),
    (
        "q_0008",
        "SELECT n_name, r_name FROM nation JOIN region ON nation.n_regionkey = region.r_regionkey",
        _ts("2025-05-07 15:00:00"),
        300, 200, 40, 100_000, 16_000_000, 24_000_000,
    ),
    (
        "q_0009",
        "SELECT p_brand, avg(p_retailprice) FROM part GROUP BY p_brand",
        _ts("2025-05-10 16:00:00"),
        2500, 1900, 250, 4_000_000, 96_000_000, 128_000_000,
    ),
    (
        "q_0010",
        "SELECT s_name FROM supplier WHERE s_acctbal > 1000.0",
        _ts("2025-05-12 17:00:00"),
        450, 300, 60, 200_000, 24_000_000, 32_000_000,
    ),
    (
        "q_0011",
        "EXPLAIN ANALYZE ??? not really sql (",
        _ts("2025-05-15 18:00:00"),
        None, None, None, None, None, None,
    ),
    (
        "q_0012",
        "SELECT o_orderpriority, count(*) FROM orders WHERE o_orderdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31' GROUP BY o_orderpriority",
        _ts("2025-06-01 08:00:00"),
        9000, 7000, 700, 48_000_000, 384_000_000, 512_000_000,
    ),
    (
        "q_0013",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' GROUP BY l_returnflag, l_linestatus",
        _ts("2025-06-02 09:00:00"),
        41000, 33000, 2600, 512_000_000, 2_048_000_000, 3_072_000_000,
    ),
    (
        "q_0014",
        "SELECT c.c_custkey, sum(o.o_totalprice) FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderstatus = 'F' GROUP BY c.c_custkey",
        _ts("2025-06-03 10:00:00"),
        28000, 21000, 1800, 128_000_000, 768_000_000, 1_024_000_000,
    ),
    (
        "q_0015",
        "SELECT user_id, max(value) FROM events GROUP BY user_id ORDER BY max(value) DESC LIMIT 25",
        _ts("2025-06-10 11:00:00"),
        3200, 2400, 300, 16_000_000, 192_000_000, 256_000_000,
    ),
    (
        "q_0016",
        "SELECT p.p_type, s.s_name FROM part p JOIN supplier s ON p.p_partkey = s.s_suppkey WHERE p.p_size > 20",
        _ts("2025-06-15 12:00:00"),
        5600, 4100, 500, 24_000_000, 224_000_000, 320_000_000,
    ),
    (
        "q_0017",
        "SELECT o_orderdate, count(*) FROM orders GROUP BY o_orderdate",
        _ts("2025-07-01 13:00:00"),
        11000, 8500, 900, 56_000_000, 448_000_000, 640_000_000,
    ),
    (
        "q_0018",
        "SELECT l_partkey, l_suppkey FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10.0",
        _ts("2025-07-05 14:00:00"),
        18000, 14000, 1200, 96_000_000, 640_000_000, 896_000_000,
    ),
    (
        "q_0019",
        "SELECT doc_id, n_chars FROM documents WHERE lang = 'en' LIMIT 50",
        _ts("2025-07-10 15:00:00"),
        800, 500, 90, 600_000, 40_000_000, 56_000_000,
    ),
    (
        "q_0020",
        "SELECT lang, source, count(*) FROM documents GROUP BY lang, source",
        _ts("2025-07-20 16:00:00"),
        6200, 4800, 550, 28_000_000, 240_000_000, 336_000_000,
    ),
]

# (table_catalog, table_schema, table_name, table_type, ddl, query_count)
# table_name matches a real /root/testdata parquet table so cardinality /
# distribution probes run against real data (reference keys views the same
# way: fq name from information_schema, src/trino_client.py:28-35).
CATALOG_VIEW_ROWS: list[tuple] = [
    (
        "spark_catalog", "analytics", "orders", "MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW analytics.orders AS SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderdate >= DATE '1992-01-01'",
        14,
    ),
    (
        "spark_catalog", "analytics", "lineitem", "MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW analytics.lineitem AS SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate < DATE '1999-01-01'",
        22,
    ),
    (
        "spark_catalog", "analytics", "customer", "MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW analytics.customer AS SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_acctbal > 0.0",
        9,
    ),
    (
        "spark_catalog", "analytics", "events", "MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW analytics.events AS SELECT event_id, ts, user_id, event_type, value, props FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'",
        17,
    ),
    (
        "spark_catalog", "analytics", "part", "MATERIALIZED VIEW",
        "CREATE MATERIALIZED VIEW analytics.part AS SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_size, p.p_retailprice FROM part p JOIN supplier s ON p.p_partkey = s.s_suppkey",
        5,
    ),
]

CATALOG_VIEW_COLUMNS = (
    "table_catalog",
    "table_schema",
    "table_name",
    "table_type",
    "ddl",
    "query_count",
)

CATALOG_VIEW_SCHEMA = T.StructType(
    [
        T.StructField("table_catalog", T.StringType(), False),
        T.StructField("table_schema", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("table_type", T.StringType(), False),
        T.StructField("ddl", T.StringType(), False),
        T.StructField("query_count", T.LongType(), False),
    ]
)


# Literal (view, column) pairs mirroring the real parquet schemas
# (FIXTURES.md group A; a unit test asserts these stay in sync). Used by
# oracle-checked usage queries — the DuckDB side can't introspect Spark
# schemas, so both sides read this one literal list.
VIEW_COLUMN_ROWS: list[tuple[str, str]] = [
    ("analytics.orders", c)
    for c in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
] + [
    ("analytics.lineitem", c)
    for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )
] + [
    ("analytics.customer", c)
    for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
] + [
    ("analytics.events", c)
    for c in ("event_id", "ts", "user_id", "event_type", "value", "props")
] + [
    ("analytics.part", c)
    for c in ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
]


# Session-memoized fixture frames: the fixture tables are consulted by
# dozens of advisor queries per session, and a fresh createDataFrame
# costs ~0.5s PER ACTION (default-parallelism local relation → 32 tasks
# for 20 rows). Building each once per session on 2 slices and keeping
# the persisted OBJECT (CacheManager does not canonicalize fresh
# LocalRelations together) drops the per-query fixed cost ~5x. If a
# test's clearCache() evicts the blocks the frame silently recomputes —
# correctness never depends on the cache.
def _memo_df(spark: SparkSession, key: str, rows, schema) -> DataFrame:
    from pyspark import StorageLevel

    return session_memo(
        spark, "fixtures.frame", (None, key),
        lambda: spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), schema=schema
        ).persist(StorageLevel.MEMORY_ONLY),
    )


def view_columns_fixture_df(spark: SparkSession) -> DataFrame:
    return _memo_df(
        spark,
        "view_columns",
        VIEW_COLUMN_ROWS,
        T.StructType(
            [
                T.StructField("view", T.StringType(), False),
                T.StructField("column", T.StringType(), False),
            ]
        ),
    )


def query_logs_df(spark: SparkSession) -> DataFrame:
    return _memo_df(spark, "query_logs", QUERY_LOG_ROWS, QUERY_LOG_SCHEMA)


def catalog_views_df(spark: SparkSession) -> DataFrame:
    return _memo_df(
        spark, "catalog_views", CATALOG_VIEW_ROWS, CATALOG_VIEW_SCHEMA
    )


def _sql_literal(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    return str(value)


def _values_cte(name: str, columns: tuple[str, ...], rows: list[tuple]) -> str:
    rendered = ",\n    ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    return f"{name}({', '.join(columns)}) AS (VALUES\n    {rendered}\n)"


def query_logs_values_cte() -> str:
    """`query_logs(...) AS (VALUES ...)` fragment for DuckDB oracle SQL."""
    return _values_cte("query_logs", QUERY_LOG_COLUMNS, QUERY_LOG_ROWS)


def catalog_views_values_cte() -> str:
    return _values_cte("catalog_views", CATALOG_VIEW_COLUMNS, CATALOG_VIEW_ROWS)


def view_columns_values_cte() -> str:
    # `view` and `column` are reserved words in DuckDB — use safe names
    return _values_cte(
        "view_columns",
        ("view_name", "column_name"),
        [tuple(r) for r in VIEW_COLUMN_ROWS],
    )
