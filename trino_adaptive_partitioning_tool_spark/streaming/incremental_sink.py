"""foreachBatch maintenance of the incremental sketch store.

Closes the loop between Structured Streaming and the mergeable-sketch
statistics (operators/incremental.py): each micro-batch of the event
stream is sketched and UNIONED into a persisted per-partition stats
table, so advisor statistics stay fresh without ever rescanning base
data. This is the canonical `foreachBatch` upsert topology — the sink
is a tiny parquet table (one row per ingest day), the per-batch work is
one sketch pass over just the batch, and HLL union order-independence
makes the result identical to a full batch recompute no matter how the
stream is micro-batched (asserted in tests/test_incremental_sink.py).

At 100 TB: base events never re-read; per-batch cost is O(batch); the
stats table stays KB-sized. The fold is the usage store's
(usage_store.fold_batch), replay marker included; for exactly-once on
a real deployment its swap-write becomes a transactional table
(Iceberg/Delta) MERGE — the checkpoint already makes the batch ids
replay-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import incremental
from .query_log_stream import drain_batches
from .usage_store import fold_batch


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    stats_path: str,
    key_cols: list[str],
    lg_k: int = 12,
    batch_id: int | None = None,
    run_token: str | None = None,
) -> None:
    """Sketch one micro-batch and fold it into the persisted stats table
    through the usage store's read-merge-overwrite (usage_store.
    fold_batch: a missing table reads as empty, any other read failure
    raises, a replayed batch id is skipped)."""
    fold_batch(
        spark,
        incremental.sketch_partition_stats(
            batch_df, F.to_date("ts"), key_cols, lg_k
        ),
        stats_path,
        "part",
        incremental.partition_merge_aggs(key_cols),
        batch_id,
        run_token,
    )


def maintain_partition_stats(
    events_stream: DataFrame,
    stats_path: str,
    key_cols: list[str],
    lg_k: int = 12,
) -> None:
    """Drain the stream (availableNow), maintaining the sketch store one
    micro-batch at a time."""
    spark = events_stream.sparkSession
    drain_batches(
        events_stream,
        lambda batch_df, batch_id, token: upsert_batch(
            spark, batch_df, stats_path, key_cols, lg_k, batch_id, token
        ),
    )
