"""Structured Streaming query-log tail (SURVEY §7 extension).

The reference re-scans the whole log per run with a `--time_filter`
predicate (src/cli.py:14-15, src/trino_client.py:55-56). The Spark-native
upgrade is a streaming tail: new log files land in a directory, the
stream aggregates them incrementally with event-time windows + a
watermark for late rows, and the same resource-scoring arithmetic rolls
up per window. At scale this is the standard file-source → windowed-agg →
sink topology; checkpointing gives exactly-once per sink epoch.

Every streaming query in the package starts here: ``drain`` runs a
stream into an in-memory sink and ``drain_batches`` into a foreachBatch
store, both through one availableNow start on a fresh checkpoint.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators import scoring
from ..sources.fixtures import QUERY_LOG_SCHEMA
from ..tempdirs import exit_tempdir


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


def _fresh_ckpt() -> str:
    # never reused: a reused checkpoint replays committed offsets and
    # drains nothing. Kept until exit, so that no later mkdtemp can hand
    # out the same path, which drain_batches uses as its replay token
    return exit_tempdir("tapt_ckpt_") + "/ckpt"


def _available_now(writer: DataStreamWriter, ckpt: str) -> None:
    writer.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start().awaitTermination()


def drain(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain everything currently in the source (availableNow, fresh
    checkpoint) into an in-memory sink and return the result as a batch
    DataFrame. The sink's temp view and the checkpoint are both removed
    before returning: the returned frame already holds the resolved
    sink, whose rows live in memory with nothing left to replay against
    the checkpoint, and a view or directory left per call would grow
    the session catalog and the temp dir without bound. ``output_mode``
    is complete (aggregates), append (joins, session windows, stateless
    projections) or update (arbitrary stateful operators)."""
    spark = stream_df.sparkSession
    name = f"stream_{uuid.uuid4().hex}"
    ckpt_dir = tempfile.mkdtemp(prefix="tapt_ckpt_")
    try:
        _available_now(
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            ckpt_dir + "/ckpt",
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def drain_batches(
    stream_df: DataFrame, fold: Callable[[DataFrame, int, str], None]
) -> None:
    """foreachBatch twin of ``drain``: every micro-batch goes to
    ``fold(batch_df, batch_id, run_token)``. The token is the fresh
    checkpoint location, so a store's replay marker lives exactly as
    long as the batch ids it records."""
    ckpt = _fresh_ckpt()
    _available_now(
        stream_df.writeStream.foreachBatch(
            lambda batch_df, batch_id: fold(batch_df, batch_id, ckpt)
        ),
        ckpt,
    )
