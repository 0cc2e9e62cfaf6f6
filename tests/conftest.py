from __future__ import annotations

import os

import duckdb
import pytest

from trino_adaptive_partitioning_tool_spark.session import get_spark
from trino_adaptive_partitioning_tool_spark.sources.tables import TABLES

# sf0.01 is the driver's correctness scale factor (TESTDATA.md)
PARITY_SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="tests")


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle environment."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{PARITY_SF_DIR}/{t}.parquet'"
        )
    return con


def memo_entry(spark, namespace, key):
    """The session memo's value for (namespace, key), or None."""
    from trino_adaptive_partitioning_tool_spark import memo

    app_id = spark.sparkContext.applicationId
    return memo._ENTRIES.get(app_id, {}).get((namespace, key))
