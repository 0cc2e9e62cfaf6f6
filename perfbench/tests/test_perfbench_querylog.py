"""The seeded query-log generator: deterministic, and its planted totals
are exactly what the package's miner extracts."""

import datetime as dt
from collections import Counter

import pytest
import querylog
from trino_adaptive_partitioning_tool_spark.operators.mining import (
    _explode_mined,
    mine_statement,
)


def _mined(row) -> Counter:
    out: Counter = Counter()
    for _qid, kind, name, cnt in _explode_mined(row[0], mine_statement(row[1])):
        out[(kind, name)] += cnt
    return out


def test_same_seed_same_log_and_other_seed_differs():
    a = querylog.generate(300, 5)
    b = querylog.generate(300, 5)
    c = querylog.generate(300, 6)
    assert a == b
    assert a[0] != c[0]


def test_query_ids_unique_and_rows_in_log_window():
    rows, _ = querylog.generate(2000, 1)
    assert len({r[0] for r in rows}) == len(rows)
    end = querylog.LOG_START + dt.timedelta(days=querylog.LOG_DAYS)
    assert all(querylog.LOG_START <= r[2] < end for r in rows)
    assert all(len(r) == 9 for r in rows)


def test_planted_rows_match_the_miner_per_statement():
    rows, planted = querylog.generate(3000, 2)
    for row, plant in zip(rows, planted):
        assert _mined(row) == plant, row[1]


def test_every_template_and_unparseable_statements_occur():
    rows, planted = querylog.generate(3000, 3)
    unparseable = [r for r, p in zip(rows, planted) if not p]
    assert 0.03 < len(unparseable) / len(rows) < 0.1
    assert all(not mine_statement(r[1])["parsed"] for r in unparseable)
    kinds = Counter(k for p in planted for (k, _n) in p)
    assert {"table", "join_column", "where_column", "limit_marker"} <= set(kinds)
    heads = {r[1].split()[0] for r, p in zip(rows, planted) if p}
    assert heads == {"SELECT", "WITH"}


def test_planted_totals_sum_only_the_window():
    rows, planted = querylog.generate(1500, 4)
    start = querylog.LOG_START + dt.timedelta(days=3)
    end = start + dt.timedelta(days=7)
    want: Counter = Counter()
    for row, plant in zip(rows, planted):
        if start <= row[2] < end:
            want.update(_mined(row))
    assert querylog.planted_totals(rows, planted, start, end) == want
    everything = querylog.planted_totals(
        rows, planted, querylog.LOG_START, start + dt.timedelta(days=99)
    )
    assert sum(everything.values()) > sum(want.values())


@pytest.mark.xfail(
    strict=True,
    reason="the miner counts an interval's unit keyword (DAY) as a where "
    "column; querylog.py plants no INTERVAL literal until it is fixed",
)
def test_interval_unit_is_not_a_where_column():
    mined = mine_statement(
        "SELECT l_orderkey FROM lineitem "
        "WHERE l_shipdate < DATE '1998-12-01' - INTERVAL '90' DAY"
    )
    assert dict(mined["where_columns"]) == {"l_shipdate": 1}
