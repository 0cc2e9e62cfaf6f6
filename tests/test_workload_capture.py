"""Spark-native workload capture: plan-derived mining feeds the same
scoring pipeline as SQL-text mining (the closed loop the reference can't
do — it only sees Trino from outside)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import scoring
from trino_adaptive_partitioning_tool_spark.plans.workload_capture import (
    WorkloadCapture,
)
from trino_adaptive_partitioning_tool_spark.sources import tables


def test_capture_and_score(spark):
    orders = tables.load_table(spark, SMOKE_SF_DIR, "orders")
    customer = tables.load_table(spark, SMOKE_SF_DIR, "customer")

    cap = WorkloadCapture(spark)
    n1 = cap.run(
        "cap_1",
        orders.join(customer, orders.o_custkey == customer.c_custkey).where(
            "c_acctbal > 100.0"
        ),
    )
    n2 = cap.run("cap_2", orders.where("o_orderstatus = 'F'"))
    assert n1 > 0 and n2 > 0

    logs, mined = cap.to_dataframes()
    assert logs.count() == 2
    kinds = {(r["query_id"], r["kind"], r["name"]) for r in mined.collect()}
    assert ("cap_1", "join_column", "o_custkey") in kinds
    assert ("cap_1", "where_column", "c_acctbal") in kinds
    assert ("cap_2", "where_column", "o_orderstatus") in kinds

    # plan-mined rows drive the same rollup the SQL-text miner drives
    perf = scoring.column_performance(logs, mined).collect()
    by_col = {r["column"]: r["col_execution_time_ms"] for r in perf}
    assert "o_custkey" in by_col and by_col["o_custkey"] >= 0


def test_partition_layout_discovery(spark, tmp_path):
    from trino_adaptive_partitioning_tool_spark.operators import transforms

    orders = tables.load_table(spark, SMOKE_SF_DIR, "orders")
    dest = str(tmp_path / "orders_applied")
    keys = transforms.apply_recommendation(
        orders, dest, ["month(o_orderdate)"]
    )
    assert keys == ["o_orderdate_month"]
    layout = tables.partition_layout(dest)
    assert set(layout) == {"o_orderdate_month"}
    assert all(len(v) == 7 for v in [layout["o_orderdate_month"][0]])  # yyyy-MM
    # the written table reads back with partition pruning available
    df = spark.read.parquet(dest)
    assert df.where(
        F.col("o_orderdate_month") == layout["o_orderdate_month"][0]
    ).count() > 0


def test_plan_cache_keyed_on_application_id(spark):
    """A memoized plan lives in the session memo, which scopes it by
    applicationId, not id(spark): a stopped session's id() can be reused
    by a new SparkSession object, which would resurrect a DataFrame
    bound to a dead session. The cross-session drop itself is checked
    in test_session_memo.py."""
    from conftest import memo_entry
    from trino_adaptive_partitioning_tool_spark import memo
    from trino_adaptive_partitioning_tool_spark.queries import registry

    calls = {"n": 0}

    @registry.register("_cache_probe_test", memo=True)
    def _probe(s, sf_dir):
        calls["n"] += 1
        return s.range(1)

    try:
        fn = registry._QUERIES["_cache_probe_test"]
        first = fn(spark, "/x")
        assert fn(spark, "/x") is first
        assert calls["n"] == 1  # memoized within one session
        key = ("/x", "_cache_probe_test")
        assert memo_entry(spark, "registry.plan", key) is first
    finally:
        registry._QUERIES.pop("_cache_probe_test", None)
        memo.evict(spark.sparkContext.applicationId, "/x")
