"""Structured Streaming query-log tail (SURVEY §7 extension).

The reference re-scans the whole log per run with a `--time_filter`
predicate (src/cli.py:14-15, src/trino_client.py:55-56). The Spark-native
upgrade is a streaming tail: new log files land in a directory, the
stream aggregates them incrementally with event-time windows + a
watermark for late rows, and the same resource-scoring arithmetic rolls
up per window. At scale this is the standard file-source → windowed-agg →
sink topology; checkpointing gives exactly-once per sink epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import scoring
from ..sources.fixtures import QUERY_LOG_SCHEMA


def stream_query_logs(spark: SparkSession, input_dir: str) -> DataFrame:
    """Tail a directory of JSON-lines query-log files as a stream."""
    return (
        spark.readStream.schema(QUERY_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(input_dir)
    )


def windowed_resource_rollup(
    logs_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window rollup with late-data handling.

    Output (append mode once the watermark passes): window start/end,
    query_count, total/max exec ms, total input bytes — the streaming twin
    of scoring.table_performance.
    """
    return (
        logs_stream.withWatermark("create_time", watermark)
        .groupBy(F.window("create_time", window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("query_count"),
            F.sum("execution_time_ms").alias("total_exec_ms"),
            F.max("execution_time_ms").alias("max_exec_ms"),
            F.sum("input_bytes").alias("total_input_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "query_count",
            "total_exec_ms",
            "max_exec_ms",
            "total_input_bytes",
        )
    )


def interactive_share_stream(
    logs_stream: DataFrame,
    window_duration: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming interactive-vs-batch classification share per window
    (the reference's 10 s / LIMIT heuristic, src/partitioning.py:223-229)."""
    return (
        logs_stream.withWatermark("create_time", watermark)
        .withColumn("is_interactive", scoring.interactive_rule())
        .groupBy(
            F.window("create_time", window_duration).alias("w"),
            "is_interactive",
        )
        .agg(F.count(F.lit(1)).alias("query_count"))
        .select(
            F.col("w.start").alias("window_start"),
            "is_interactive",
            "query_count",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str
) -> DataFrame:
    """Drain everything currently in the source into an in-memory table
    (complete mode) and return it — used by tests and batch-style catchup
    runs. Returns the materialized result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
