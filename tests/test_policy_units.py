"""Unit tests for scoring bands, transform policy, and profile math
(SURVEY §5.2.2/§5.2.4: every branch of the §2.11 policy + property-style
boundary grids)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from trino_adaptive_partitioning_tool_spark.operators import (
    scoring,
    stats,
    transforms,
)


def _eval_transform(spark, data_type, card, value_range, granularity):
    df = spark.createDataFrame(
        [("c", data_type, card, value_range, granularity)],
        "column string, data_type string, cardinality long, value_range double, granularity string",
    )
    return df.select(
        transforms.transform_expr(
            F.col("column"), F.col("data_type"), F.col("cardinality"),
            F.col("value_range"), F.col("granularity"),
        ).alias("t")
    ).head()["t"]


@pytest.mark.parametrize(
    "dtype,card,vrange,gran,expected",
    [
        ("timestamp", 100, None, "day", "day(c)"),
        ("date", 100, None, "month", "month(c)"),
        ("timestamp", 100, None, "year", "year(c)"),
        ("timestamp", 100, None, None, "month(c)"),  # granularity fallback
        ("string", 10001, None, None, "bucket(16, c)"),
        ("string", 10000, None, None, "c"),
        ("bigint", 1001, 50.0, None, "bucket(4, c)"),       # floor(1001/500)=2 → clamp 4
        ("bigint", 20000, 50.0, None, "bucket(32, c)"),     # 40 → clamp 32
        ("bigint", 5000, 50.0, None, "bucket(10, c)"),      # exact 10
        ("int", 500, 10001.0, None, "truncate(c, 100)"),
        ("int", 500, 10000.0, None, "c"),
        ("double", 999999, 1e9, None, "c"),                  # identity fallback
        ("boolean", 2, None, None, "c"),
    ],
)
def test_transform_policy_branches(spark, dtype, card, vrange, gran, expected):
    assert _eval_transform(spark, dtype, card, vrange, gran) == expected


@pytest.mark.parametrize(
    "card,expected",
    [(1, 5.0), (9, 5.0), (10, 10.0), (99, 10.0), (100, 8.0), (999, 8.0),
     (1000, 5.0), (9999, 5.0), (10000, 1.0), (10**9, 1.0)],
)
def test_cardinality_band_boundaries(spark, card, expected):
    df = spark.createDataFrame([(card,)], "card long")
    got = df.select(
        scoring.cardinality_band_bonus(F.col("card")).alias("b")
    ).head()["b"]
    assert got == expected


def test_bucket_count_clamp_range(spark):
    # property: bucket count stays in [4, 32] for any cardinality > 1000
    cards = [1001, 1500, 2000, 5000, 10_000, 16_000, 100_000, 10**8]
    df = spark.createDataFrame([(c,) for c in cards], "cardinality long")
    rows = df.select(
        F.least(
            F.greatest(
                F.floor(F.col("cardinality") / 500).cast("int"), F.lit(4)
            ),
            F.lit(32),
        ).alias("n")
    ).collect()
    assert all(4 <= r["n"] <= 32 for r in rows)


def test_resource_score_bounds_and_null_safety(spark):
    from trino_adaptive_partitioning_tool_spark.sources import fixtures

    scored = scoring.resource_scores(fixtures.query_logs_df(spark)).collect()
    by_id = {r["query_id"]: r["resource_score"] for r in scored}
    assert all(0.0 <= s <= 100.0 for s in by_id.values())
    # the all-max row scores exactly 100
    assert by_id["q_0005"] == pytest.approx(100.0)
    # NULL metrics contribute 0 (q_0011 has all-NULL metrics)
    assert by_id["q_0011"] == 0.0


def test_profile_skew_density_guards(spark):
    df = spark.createDataFrame(
        [(0.0,), (0.0,), (5.0,), (10.0,)], "x double"
    )
    prof = stats.column_profiles(df, "t", exact=True).head()
    # p10 == 0 → skew guard kicks in
    assert prof["skew_ratio"] == 1.0
    assert 0.0 <= prof["density"] <= 1.0


def test_top_candidates_respects_n_and_positive_scores(spark):
    rows = [
        ("v1", "a", 5.0), ("v1", "b", 3.0), ("v1", "c", 2.0), ("v1", "d", 1.0),
        ("v2", "e", 0.0), ("v2", "f", -1.0),
    ]
    df = spark.createDataFrame(rows, "view string, column string, score double")
    top = scoring.top_candidates(df, top_n=3).collect()
    v1 = [r for r in top if r["view"] == "v1"]
    assert len(v1) == 3 and [r["column"] for r in v1] == ["a", "b", "c"]
    assert not [r for r in top if r["view"] == "v2"]  # score>0 filter


def test_candidate_kind_map_matches_schemas(spark):
    """_COLUMN_KINDS (drives generated oracle SQL) must agree with the
    real parquet dtypes, cover every fixture candidate column and every
    transform_selection column, and hold no other entry."""
    from conftest import PARITY_SF_DIR

    from trino_adaptive_partitioning_tool_spark.queries.advisor import (
        _COLUMN_KINDS,
        _TRANSFORM_COLUMNS,
    )
    from trino_adaptive_partitioning_tool_spark.sources import fixtures, tables

    def kind_of(dtype: str) -> str:
        base = dtype.split("(")[0]
        if base in ("date", "timestamp", "timestamp_ntz"):
            return "date"
        if base in ("string", "varchar", "char"):
            return "str"
        if base in ("int", "bigint", "smallint", "tinyint"):
            return "int"
        return "other"

    pairs = [
        (view.split(".")[1], col) for view, col in fixtures.VIEW_COLUMN_ROWS
    ] + list(_TRANSFORM_COLUMNS)
    seen = set()
    for table, col in pairs:
        dtypes = dict(
            tables.load_table(spark, PARITY_SF_DIR, table).dtypes
        )
        assert col in _COLUMN_KINDS, f"missing kind for {col}"
        assert _COLUMN_KINDS[col] == kind_of(dtypes[col]), (
            f"{table}.{col}: map says {_COLUMN_KINDS[col]}, "
            f"schema says {kind_of(dtypes[col])} ({dtypes[col]})"
        )
        seen.add(col)
    assert seen == set(_COLUMN_KINDS), (
        f"stale kind-map entries: {set(_COLUMN_KINDS) - seen}"
    )


@pytest.mark.parametrize("name", ["bucket_join_advice", "rollup_advice"])
def test_ndv_advice_empty_when_no_column_resolves(spark, monkeypatch, name):
    """Both NDV-advice queries read exact NDV through advisor._exact_ndv.
    When no mined column resolves to any table schema, it returns an
    empty frame of its schema, so each query returns an empty frame of
    its advertised columns and types instead of raising."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.queries import advisor
    from trino_adaptive_partitioning_tool_spark.sources import tables

    query = getattr(advisor, name)
    want = query(spark, SMOKE_SF_DIR).dtypes
    monkeypatch.setattr(tables, "TABLES", ())
    ndv = advisor._exact_ndv(spark, SMOKE_SF_DIR, {"o_custkey"})
    assert ndv.dtypes == [
        ("table_name", "string"), ("column_name", "string"),
        ("ndv", "bigint"), ("table_rows", "bigint"),
    ]
    assert ndv.collect() == []
    got = query(spark, SMOKE_SF_DIR)
    assert got.dtypes == want
    assert got.collect() == []


def test_spec_history_deep_generation_checkpoint(spark):
    """r13 plan-growth bound: a 9-generation history crosses the
    _SPEC_HISTORY_CHECKPOINT_EVERY=8 threshold, so the union lineage is
    truncated mid-loop (eager localCheckpoint on the dimension-sized
    frame) — the deep path must still produce one row per (view,
    generation) and, because the cuts repeat cyclically, the SAME
    recommended keys for the same cut (gen i == gen i+3 == gen i+6)."""
    from conftest import PARITY_SF_DIR

    from trino_adaptive_partitioning_tool_spark.queries import advisor

    gens = advisor._SPEC_HISTORY_GENS * 3  # 9 legs, cuts cycle
    assert len(gens) > advisor._SPEC_HISTORY_CHECKPOINT_EVERY
    rows = advisor._spec_history(spark, PARITY_SF_DIR, gens).collect()
    by_view: dict[str, dict[int, str]] = {}
    for r in rows:
        by_view.setdefault(r["view_name"], {})[r["generation"]] = (
            r["partition_keys_csv"]
        )
    assert by_view, "no history rows"
    n_gens = len(gens)
    for view, keys in by_view.items():
        assert sorted(keys) == list(range(1, n_gens + 1)), (
            f"{view}: missing generations {sorted(keys)}"
        )
        for g in range(1, n_gens + 1):
            assert keys[g] == keys[(g - 1) % 3 + 1], (
                f"{view}: gen {g} diverged from its cut twin"
            )
