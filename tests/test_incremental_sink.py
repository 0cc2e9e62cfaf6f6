"""foreachBatch sketch maintenance: the streamed, micro-batched store
must equal a one-pass batch recompute exactly (HLL union is
order-independent), across multiple micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from trino_adaptive_partitioning_tool_spark.operators import incremental
from trino_adaptive_partitioning_tool_spark.sources import tables
from trino_adaptive_partitioning_tool_spark.streaming import (
    incremental_sink as isink,
)
from trino_adaptive_partitioning_tool_spark.streaming import stream_join as sj

from conftest import SMOKE_SF_DIR

KEYS = ["user_id", "event_type"]


def test_streamed_store_equals_batch_recompute(spark, tmp_path):
    ev = tables.load_table(spark, SMOKE_SF_DIR, "events")
    in_dir = str(tmp_path / "events")
    ev.coalesce(6).write.mode("overwrite").json(in_dir)

    stream = (
        spark.readStream.schema(sj.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)  # force >= 3 micro-batches
        .json(in_dir)
    )
    stats_path = str(tmp_path / "stats")
    isink.maintain_partition_stats(stream, stats_path, KEYS)

    got = incremental.merge_sketch_stats(
        spark.read.parquet(stats_path), KEYS
    ).collect()[0]
    # batch twin over the SAME JSON files (the sink truncates timestamps
    # to millis; values feeding the sketches must be identical)
    batch_ev = spark.read.schema(sj.EVENT_SCHEMA).json(in_dir)
    want = incremental.merge_sketch_stats(
        incremental.sketch_partition_stats(batch_ev, F.to_date("ts"), KEYS),
        KEYS,
    ).collect()[0]
    assert got.asDict() == want.asDict()
    assert got["n_rows"] == ev.count()
