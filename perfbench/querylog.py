"""Seeded query-log generator for the `advisor_refresh` workload.

Each statement comes from a template that plants known tables, join
columns and where columns over the benchmark's generated tables. The
template records what it planted, so the check can compare the miner's
`(kind, name)` totals with the planted totals without trusting the
miner. A share of the statements is unparseable (not SELECT/WITH/CREATE
headed) and must mine to zero rows.

Rows follow the 9-column query-log schema of
`sources.fixtures.QUERY_LOG_SCHEMA`.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import random

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LOG_START = dt.datetime(2025, 5, 1)
LOG_DAYS = 28
UNPARSEABLE_SHARE = 0.06

Planted = Counter  # (kind, name) -> count


def _date(rng: random.Random) -> str:
    day = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2400))
    return day.isoformat()


def _filter_limit(rng):
    sql = (
        "SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= DATE '{_date(rng)}' "
        f"AND o_totalprice > {rng.randrange(1000, 400000)} "
        f"ORDER BY o_totalprice DESC LIMIT {rng.randrange(5, 100)}"
    )
    return sql, Planted({
        ("table", "orders"): 1,
        ("where_column", "o_orderdate"): 1,
        ("where_column", "o_totalprice"): 1,
        ("limit_marker", ""): 1,
    })


def _join2(rng):
    seg = rng.choice(SEGMENTS)
    sql = (
        "SELECT o.o_orderkey, c.c_name FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE c.c_mktsegment = '{seg}'"
    )
    return sql, Planted({
        ("table", "orders"): 1,
        ("table", "customer"): 1,
        ("join_column", "o_custkey"): 1,
        ("join_column", "c_custkey"): 1,
        ("where_column", "c_mktsegment"): 1,
    })


def _join3(rng):
    # two literal dates, not `+ INTERVAL '30' DAY`: the miner counts an
    # interval's unit as a where column (the xfail test in tests/ shows it)
    d1 = dt.date.fromisoformat(_date(rng))
    d2 = d1 + dt.timedelta(days=30)
    sql = (
        "SELECT l.l_orderkey, sum(l.l_extendedprice) AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE l.l_shipdate BETWEEN DATE '{d1}' AND DATE '{d2}' "
        f"AND c.c_nationkey = {rng.randrange(0, 25)} "
        "GROUP BY l.l_orderkey"
    )
    return sql, Planted({
        ("table", "lineitem"): 1,
        ("table", "orders"): 1,
        ("table", "customer"): 1,
        ("join_column", "l_orderkey"): 1,
        ("join_column", "o_orderkey"): 1,
        ("join_column", "o_custkey"): 1,
        ("join_column", "c_custkey"): 1,
        ("where_column", "l_shipdate"): 1,
        ("where_column", "c_nationkey"): 1,
    })


def _cte(rng):
    sql = (
        "WITH recent AS (SELECT l_orderkey, l_extendedprice FROM lineitem "
        f"WHERE l_shipdate >= DATE '{_date(rng)}') "
        "SELECT o.o_orderpriority, count(*) AS n FROM recent r "
        "JOIN orders o ON r.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderpriority"
    )
    return sql, Planted({
        ("table", "lineitem"): 1,
        ("table", "orders"): 1,
        ("join_column", "l_orderkey"): 1,
        ("join_column", "o_orderkey"): 1,
        ("where_column", "l_shipdate"): 1,
    })


def _subquery(rng):
    status = "FOP"[rng.randrange(0, 3)]
    sql = (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey IN (SELECT c_custkey FROM customer "
        f"WHERE c_acctbal > {rng.randrange(-900, 9000)}) "
        f"AND o_orderstatus = '{status}'"
    )
    return sql, Planted({
        ("table", "orders"): 1,
        ("table", "customer"): 1,
        ("where_column", "o_custkey"): 1,
        ("where_column", "c_acctbal"): 1,
        ("where_column", "o_orderstatus"): 1,
    })


def _events(rng):
    day = 1 + rng.randrange(0, 28)
    sql = (
        "SELECT event_type, count(*) AS n FROM events "
        f"WHERE ts >= TIMESTAMP '2024-01-{day:02d} 00:00:00' "
        f"AND user_id < {rng.randrange(10, 1500)} "
        "GROUP BY event_type LIMIT 100"
    )
    return sql, Planted({
        ("table", "events"): 1,
        ("where_column", "ts"): 1,
        ("where_column", "user_id"): 1,
        ("limit_marker", ""): 1,
    })


def _part_join(rng):
    sql = (
        "SELECT p.p_brand, avg(l.l_quantity) AS q FROM lineitem l "
        "JOIN part p ON l.l_partkey = p.p_partkey "
        f"WHERE p.p_size > {rng.randrange(1, 50)} GROUP BY p.p_brand"
    )
    return sql, Planted({
        ("table", "lineitem"): 1,
        ("table", "part"): 1,
        ("join_column", "l_partkey"): 1,
        ("join_column", "p_partkey"): 1,
        ("where_column", "p_size"): 1,
    })


def _dashboard(rng):
    # a BI dashboard tile: a wide select list, CASE bands and a long IN
    # list, so most of its tokens plant nothing
    suppliers = ", ".join(str(rng.randrange(0, 100)) for _ in range(60))
    sql = (
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, "
        f"CASE WHEN l_extendedprice > {rng.randrange(50000, 100000)} THEN 'high' "
        f"WHEN l_extendedprice > {rng.randrange(1000, 50000)} THEN 'mid' "
        "ELSE 'low' END AS band FROM lineitem "
        f"WHERE l_suppkey IN ({suppliers}) AND l_shipdate >= DATE '{_date(rng)}' "
        "ORDER BY l_shipdate DESC"
    )
    return sql, Planted({
        ("table", "lineitem"): 1,
        ("where_column", "l_suppkey"): 1,
        ("where_column", "l_shipdate"): 1,
    })


_UNPARSEABLE = (
    "SHOW TABLES FROM tpch.tiny",
    "EXPLAIN SELECT * FROM orders WHERE o_orderkey = 1",
    "INSERT INTO audit_log VALUES (1, 'refresh')",
    "DESCRIBE lineitem",
    "SELEC o_orderkey FROM orders WHERE o_custkey = 7",
)


def _unparseable(rng):
    return rng.choice(_UNPARSEABLE), Planted()


TEMPLATES = (
    _filter_limit, _join2, _join3, _cte, _subquery, _events, _part_join, _dashboard,
)
# dashboard tiles are a quarter of the parseable statements, as in a log
# dominated by BI refreshes
WEIGHTS = (1, 1, 1, 1, 1, 1, 1, 2.33)


def generate(n: int, seed: int) -> tuple[list[tuple], list[Planted]]:
    """`n` log rows (query-log schema order) and what each one plants.

    Row i carries query_id `q{i:07d}`, so ids are unique. create_time is
    spread over LOG_DAYS days; the metric columns are skewed lognormals
    with a few NULLs, like a real log.
    """
    rng = random.Random(seed * 1_000_003 + n)
    rows: list[tuple] = []
    planted: list[Planted] = []
    for i in range(n):
        if rng.random() < UNPARSEABLE_SHARE:
            sql, plant = _unparseable(rng)
        else:
            sql, plant = rng.choices(TEMPLATES, WEIGHTS)[0](rng)
        created = LOG_START + dt.timedelta(
            seconds=rng.randrange(0, LOG_DAYS * 86400)
        )
        exec_ms = int(rng.lognormvariate(8.0, 1.2))
        cpu_ms = None if rng.random() < 0.02 else int(exec_ms * rng.uniform(0.3, 0.9))
        rows.append((
            f"q{i:07d}",
            sql,
            created,
            exec_ms,
            cpu_ms,
            int(exec_ms * rng.uniform(0.05, 0.2)),
            int(rng.lognormvariate(16.0, 2.0)),
            int(rng.lognormvariate(18.0, 1.0)),
            int(rng.lognormvariate(18.5, 1.0)),
        ))
        planted.append(plant)
    return rows, planted


def planted_totals(
    rows: list[tuple], planted: list[Planted], start: dt.datetime, end: dt.datetime
) -> Counter:
    """Sum of planted `(kind, name)` counts over rows with
    start <= create_time < end."""
    total: Counter = Counter()
    for row, plant in zip(rows, planted):
        if start <= row[2] < end:
            total.update(plant)
    return total
