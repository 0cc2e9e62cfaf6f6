"""operators/rowmap.map_rows: the one Arrow row stage every per-row Python
step (miner, WARC parse, HTML extraction, media decode) runs through.
Pins the helper's contract only; each stage has its own tests."""
from __future__ import annotations

import pytest
from pyspark.sql import types as T

from trino_adaptive_partitioning_tool_spark.operators import rowmap

OUT = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("copy", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), True),
    ]
)


@pytest.fixture
def fan():
    """k % 3 == 0 -> no row, 1 -> one row, 2 -> three rows; the tag
    carries the Python type the stage handed over. Nested, so the
    workers get it by value (they cannot import this test module)."""

    def _fan(k, tag):
        n = (0, 1, 3)[k % 3]
        return [(k, c, f"{tag}:{type(k).__name__}") for c in range(n)]

    return _fan


def _want(fan, keys):
    return [row for k in keys for row in fan(k, f"t{k}")]


def _inputs(spark, n, partitions):
    return spark.range(0, n, 1, partitions).selectExpr(
        "id AS k", "concat('t', id) AS tag"
    )


def test_zero_one_or_many_rows_per_input_in_order(spark, fan):
    got = rowmap.map_rows(_inputs(spark, 30, 3), OUT, fan)
    assert got.columns == OUT.names
    assert [tuple(r) for r in got.collect()] == _want(fan, range(30))


def test_fn_gets_values_in_input_column_order(spark, fan):
    swapped = _inputs(spark, 12, 2).select("tag", "k")
    got = rowmap.map_rows(swapped, OUT, lambda tag, k: fan(k, tag))
    assert [tuple(r) for r in got.collect()] == _want(fan, range(12))


def test_empty_partitions_yield_no_rows(spark, fan):
    # 6 partitions over 3 ids: three partitions are empty
    got = rowmap.map_rows(_inputs(spark, 3, 6), OUT, fan)
    assert got.rdd.getNumPartitions() == 6
    assert [tuple(r) for r in got.collect()] == _want(fan, range(3))
    none = rowmap.map_rows(_inputs(spark, 3, 2).where("k < 0"), OUT, fan)
    assert none.collect() == []


def test_output_names_come_from_the_schema(spark, fan):
    # the same fn under a schema with other field names
    renamed = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("c", T.StringType()),
        ]
    )
    got = rowmap.map_rows(_inputs(spark, 6, 2), renamed, fan)
    assert got.columns == ["a", "b", "c"]
    assert [tuple(r) for r in got.collect()] == _want(fan, range(6))


def test_streaming_input(spark, fan, tmp_path):
    feed = str(tmp_path / "feed")
    _inputs(spark, 20, 4).write.parquet(feed)
    stream = spark.readStream.schema("k long, tag string").parquet(feed)
    q = (
        rowmap.map_rows(stream, OUT, fan)
        .writeStream.format("memory")
        .queryName("rowmap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("rowmap_stream").collect())
    assert got == sorted(_want(fan, range(20)))
