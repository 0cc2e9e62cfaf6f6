"""Golden end-to-end test (SURVEY §5.2.3): fixed fixtures + sf0.001 data
→ exact expected recommendation set, plus property-style invariants
(§5.2.4: usage monotonicity) on the scoring pipeline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark import memo
from trino_adaptive_partitioning_tool_spark.operators import recommend, scoring


@pytest.fixture(scope="module", autouse=True)
def _drop_cached_analyses(spark):
    """Leave the session's cache as this module found it: the memoized
    default-input analysis and its profiles are evicted when the module
    ends, so a later advisor query plans over the same cache whether or
    not these tests ran first."""
    yield
    memo.evict(spark.sparkContext.applicationId, SMOKE_SF_DIR)


def test_golden_recommendations(spark):
    res = recommend.run_analysis(spark, SMOKE_SF_DIR)
    recs = {
        r["view"]: (list(r["partition_keys"]), list(r["transforms"]))
        for r in res["recommendations"].collect()
    }
    assert set(recs) == {
        "analytics.orders", "analytics.lineitem", "analytics.customer",
        "analytics.events", "analytics.part",
    }
    # date columns must surface with a date transform, not identity
    li_keys, li_transforms = recs["analytics.lineitem"]
    assert "l_shipdate" in li_keys
    assert any(t.startswith(("day(", "month(", "year(")) for t in li_transforms)
    ev_keys, ev_transforms = recs["analytics.events"]
    assert "ts" in ev_keys
    assert any("(ts)" in t for t in ev_transforms)
    # every view got exactly TOP_N (=3) keys on this workload
    assert all(len(k) == 3 for k, _ in recs.values())
    # scripts embed the same keys they carry structurally (§8.2 fix)
    for r in res["recommendations"].collect():
        for t in r["transforms"]:
            assert t in r["script"]


def test_golden_determinism(spark):
    a = recommend.run_analysis(spark, SMOKE_SF_DIR)["recommendations"].collect()
    b = recommend.run_analysis(spark, SMOKE_SF_DIR)["recommendations"].collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_release_analysis_drops_only_what_the_call_cached(spark):
    """A call over a caller-supplied log caches its mined log, usage,
    column_performance and column_scores for itself, and release_analysis
    unpersists exactly those. A memoized default-input analysis owns
    nothing, so releasing it leaves the session-shared frames cached."""
    from trino_adaptive_partitioning_tool_spark.sources import fixtures

    shared = recommend.run_analysis(spark, SMOKE_SF_DIR)
    assert shared.call_cached == ()
    res = recommend.run_analysis(
        spark, SMOKE_SF_DIR, logs_df=fixtures.query_logs_df(spark)
    )
    own = [res[k] for k in
           ("mined_logs", "usage", "column_performance", "column_scores")]
    try:
        assert sorted(map(id, res.call_cached)) == sorted(map(id, own))
        res["recommendations"].collect()
    finally:
        recommend.release_analysis(res)
    assert not any(df.is_cached for df in own)
    recommend.release_analysis(shared)
    assert shared["profiles"].is_cached and shared["mined_logs"].is_cached
    assert shared["usage"].is_cached and shared["column_scores"].is_cached


def test_score_monotonic_in_usage(spark):
    """More weighted usage ⇒ score never decreases (all else equal)."""
    candidates = spark.createDataFrame(
        [("v", "t", "colA"), ("v", "t", "colB")],
        "view string, table string, column string",
    )
    profiles = spark.createDataFrame(
        [
            ("t", "colA", "bigint", 500, 100.0, None, 1.0, 0.5),
            ("t", "colB", "bigint", 500, 100.0, None, 1.0, 0.5),
        ],
        "table string, column string, data_type string, distinct_count long,"
        "value_range double, granularity string, skew_ratio double, density double",
    )
    perf = spark.createDataFrame(
        [("colA", 0), ("colB", 0)], "column string, col_execution_time_ms long"
    )
    for low, high in [(0, 1), (1, 10), (10, 1000)]:
        usage = spark.createDataFrame(
            [("colA", "u", low), ("colB", "u", high)],
            "name string, source string, weighted_frequency long",
        )
        scored = {
            r["column"]: r["score"]
            for r in scoring.partition_scores(
                candidates, usage, profiles, perf
            ).collect()
        }
        assert scored["colB"] >= scored["colA"]


def test_resource_score_monotonic_in_metrics(spark):
    """Strictly larger metrics ⇒ strictly larger resource score."""
    rows = [
        ("small", "q", None, 100, 100, 0, 100, 100, 100),
        ("large", "q", None, 10000, 10000, 0, 10000, 10000, 10000),
    ]
    from trino_adaptive_partitioning_tool_spark.sources.fixtures import (
        QUERY_LOG_SCHEMA,
    )

    logs = spark.createDataFrame(rows, schema=QUERY_LOG_SCHEMA)
    scores = {
        r["query_id"]: r["resource_score"]
        for r in scoring.resource_scores(logs).collect()
    }
    assert scores["large"] > scores["small"]
    assert scores["large"] == 100.0
