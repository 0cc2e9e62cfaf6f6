"""foreachBatch maintenance of the mined-usage increment store.

The streaming half of the adaptive partitioning loop: the reference's
whole pitch is re-running its analysis on a fresh query-log window
(reference src/partitioning.py:294-325, a manual one-shot); the batch
drift query closes that loop on a schedule (drift -> triggers ->
patched DDL), and this module makes "fresh" CONTINUOUS. Each micro-batch of
the query-log stream is mined (the same Arrow-batched miner the batch
advisor uses), reduced to per-column early/late mention counts, and
folded into a persisted usage table; the trigger logic
(queries/advisor.drift_triggers_from_usage) then reads ONLY that
table — no log re-scan, ever.

Correctness under slicing: the stored quantities are pure SUMS of
per-row counts, so any micro-batch partitioning of the log produces
the same final table — the stream==batch equivalence is exact (not
approximate like the HLL store) and is asserted per-drain in
tests/test_streaming.py and certified against the batch DuckDB oracle
by the streaming_drift_triggers driver row. PRECONDITION: query_id is
unique per log row (true of any real query log and the fixture). With
duplicated ids the batch query's mined-rows-to-create_time join fans
out across ALL same-id rows, which a per-batch join can only replicate
when the duplicates land in one batch — uniqueness makes the
equivalence slicing-proof.

Replay safety: Spark re-executes a foreachBatch micro-batch with the
SAME batch_id after a crash between the sink write and the checkpoint
commit; fold_batch records the last applied (run_token, batch_id) next
to the store and skips replays, so counts are never folded twice. The
token is the checkpoint location, coupling the marker to the
checkpoint lifecycle: a FRESH checkpoint (reprocessing a corrected feed
into the same store) restarts ids at 0 and must fold, not skip. The
sketch store (streaming/incremental_sink.py) folds through the same
fold_batch.

At 100 TB: the log stream is consumed once, per-batch cost is one
miner pass over just the batch (map-side combined into <= distinct
columns rows), and the store stays column-count-sized (KB). The
read-merge-overwrite + marker below becomes a transactional MERGE on
a real deployment (one atomic commit instead of two files).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .query_log_stream import drain_batches


def usage_increments(
    batch_df: DataFrame, cutoff: str
) -> DataFrame:
    """Mine one micro-batch of query-log rows into per-column
    (column_name, n_early, n_late) mention counts — the additive unit
    the store folds, built by the batch drift query's own
    scoring.drift_usage. The join back to create_time is batch-local,
    which matches the batch query's whole-log join exactly when
    query_id is unique per log row (the module-docstring precondition);
    duplicated ids split across batches would fan out less here than in
    the batch join."""
    from ..operators import mining, scoring

    return scoring.drift_usage(
        mining.mine_query_log(batch_df), batch_df, cutoff,
        [F.col("name").alias("column_name")],
    )


def fold_batch(
    spark: SparkSession,
    increment: DataFrame,
    store_path: str,
    key: str,
    aggs: list[Column],
    batch_id: int | None = None,
    run_token: str | None = None,
) -> None:
    """Fold one micro-batch's ``increment`` rows into the persisted
    store: read, union, re-aggregate per ``key`` with ``aggs``, and
    overwrite (the stores are KB-sized, so the rewrite is trivially
    small). Only a MISSING store reads as empty; any other read failure
    (partial overwrite, transient FS error) propagates rather than
    silently resetting the accumulated history. When ``batch_id`` is
    given (foreachBatch replay contract), a replayed batch — same id
    already recorded in the sidecar marker UNDER THE SAME run_token —
    is a no-op, so crash-replay never double-counts. The token (the
    checkpoint location drain_batches passes) couples the marker's
    lifecycle to the checkpoint's: a fresh checkpoint restarts batch
    ids at 0, and without the token match those real batches would read
    as replays and be silently dropped."""
    marker = store_path.rstrip("/") + ".last_batch"
    if batch_id is not None and os.path.exists(marker):
        with open(marker) as fh:
            try:
                rec = json.loads(fh.read() or "{}")
            except ValueError:
                rec = {}
        if (
            rec.get("token") == run_token
            and batch_id <= rec.get("batch_id", -1)
        ):
            return  # checkpointed replay of an already-applied batch
    # the first batch finds no store; asking Spark to read the missing
    # path would log a FileNotFoundException trace per call, so only an
    # existing store is read, and any error reading it (corrupt store,
    # permissions) surfaces
    if os.path.exists(store_path):
        merged = (
            spark.read.parquet(store_path)
            .unionByName(increment)
            .groupBy(key)
            .agg(*aggs)
        )
    else:
        merged = increment
    # break lineage from the path we are about to overwrite
    merged = merged.localCheckpoint(eager=True)
    merged.coalesce(1).write.mode("overwrite").parquet(store_path)
    if batch_id is not None:
        # Marker trails the store write, so the exposure is exactly the
        # gap between these two statements: a crash there replays a
        # batch the store already folded (double-count), while the
        # pre-marker ordering would instead LOSE a batch on a crash
        # before the write. Without the marker every replay would
        # double-count; only a transactional table's single commit
        # closes the remaining window (module docstring) — the
        # checkpointed batch_id makes that MERGE idempotent for free.
        tmp = f"{marker}.tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"token": run_token, "batch_id": batch_id}))
        os.replace(tmp, marker)


def upsert_usage_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    cutoff: str,
    batch_id: int | None = None,
    run_token: str | None = None,
) -> None:
    """Fold one micro-batch's usage increments into the store."""
    fold_batch(
        spark,
        usage_increments(batch_df, cutoff),
        store_path,
        "column_name",
        [
            F.sum("n_early").cast("bigint").alias("n_early"),
            F.sum("n_late").cast("bigint").alias("n_late"),
        ],
        batch_id,
        run_token,
    )


def maintain_usage_store(
    logs_stream: DataFrame, store_path: str, cutoff: str
) -> None:
    """Drain the query-log stream (availableNow), maintaining the
    mined-usage store one micro-batch at a time."""
    spark = logs_stream.sparkSession
    drain_batches(
        logs_stream,
        lambda batch_df, batch_id, token: upsert_usage_batch(
            spark, batch_df, store_path, cutoff, batch_id, token
        ),
    )
