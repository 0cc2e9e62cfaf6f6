"""Structured Streaming query-log tail: the windowed rollup over a file
stream must match the equivalent batch aggregation on the same rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trino_adaptive_partitioning_tool_spark.sources import fixtures
from trino_adaptive_partitioning_tool_spark.streaming import query_log_stream as qls


def _write_log_files(spark, path: str) -> None:
    fixtures.query_logs_df(spark).coalesce(2).write.mode("overwrite").json(path)


def test_windowed_rollup_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "logs")
    _write_log_files(spark, in_dir)

    stream = qls.stream_query_logs(spark, in_dir)
    assert stream.isStreaming
    result = qls.drain(
        qls.windowed_resource_rollup(stream, "1 day", "2 days")
    ).collect()

    batch = (
        fixtures.query_logs_df(spark)
        .groupBy(F.window("create_time", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("query_count"),
            F.sum("execution_time_ms").alias("total_exec_ms"),
        )
        .collect()
    )
    got = {
        (r["window_start"], r["query_count"], r["total_exec_ms"])
        for r in result
    }
    want = {
        (r["w"]["start"], r["query_count"], r["total_exec_ms"]) for r in batch
    }
    assert got == want


def test_interactive_share_stream(spark, tmp_path):
    in_dir = str(tmp_path / "logs2")
    _write_log_files(spark, in_dir)

    stream = qls.stream_query_logs(spark, in_dir)
    rows = qls.drain(
        qls.interactive_share_stream(stream, "1 day", "2 days")
    ).collect()
    total = sum(r["query_count"] for r in rows)
    assert total == len(fixtures.QUERY_LOG_ROWS)
    assert {r["is_interactive"] for r in rows} == {True, False}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream click→purchase attribution join must
    produce exactly the rows of the equivalent batch interval join."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import stream_join as sj

    events = tables.load_table(spark, SMOKE_SF_DIR, "events").where(
        "event_type IN ('click', 'purchase')"
    )
    in_dir = str(tmp_path / "events")
    events.coalesce(2).write.mode("overwrite").json(in_dir)

    stream = sj.stream_events_json(spark, in_dir)
    assert stream.isStreaming
    got = qls.drain(
        sj.click_purchase_interval_join(stream), "append"
    ).collect()

    want = sj.click_purchase_interval_join(events).collect()
    key = lambda r: (r["click_id"], r["purchase_id"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == len(want) and len(want) > 0


def _write_event_files(spark, path: str, dupes: bool = False) -> None:
    from trino_adaptive_partitioning_tool_spark.sources import tables
    from conftest import SMOKE_SF_DIR

    ev = tables.load_table(spark, SMOKE_SF_DIR, "events")
    if dupes:
        ev = ev.unionAll(ev)
    ev.coalesce(4).write.mode("overwrite").json(path)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Every emitted streaming session must exactly match a batch
    session_window row, and the stream must emit the overwhelming
    majority (all but watermark-held tail sessions)."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import sessions as ss
    from trino_adaptive_partitioning_tool_spark.streaming import stream_join as sj

    in_dir = str(tmp_path / "events")
    _write_event_files(spark, in_dir)
    stream = sj.stream_events_json(spark, in_dir)
    got = ss.user_session_rollup(stream, "30 minutes", "0 seconds")
    assert got.isStreaming
    got = qls.drain(got, "append")

    # batch twin over the SAME JSON files (the JSON sink truncates
    # timestamps to millis, so reading parquet directly would mismatch)
    batch = (
        spark.read.schema(sj.EVENT_SCHEMA)
        .json(in_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    n_stream = got.count()
    n_batch = batch.count()
    joined = got.join(
        batch,
        ["user_id", "session_start", "session_end", "n_events", "session_value"],
        "inner",
    ).count()
    assert joined == n_stream  # every emitted session is exactly a batch session
    assert n_stream >= int(0.9 * n_batch)  # only tail sessions may be held


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    """A doubled feed deduped with dropDuplicatesWithinWatermark must
    equal batch DISTINCT on event_id."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import sessions as ss
    from trino_adaptive_partitioning_tool_spark.streaming import stream_join as sj

    in_dir = str(tmp_path / "events_dup")
    _write_event_files(spark, in_dir, dupes=True)
    stream = sj.stream_events_json(spark, in_dir)
    deduped = qls.drain(ss.dedup_events_stream(stream), "append")
    n_events = tables.load_table(spark, SMOKE_SF_DIR, "events").count()
    assert deduped.count() == n_events
    assert deduped.select("event_id").distinct().count() == n_events


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast join + complete-mode rollup must equal the
    identical batch join over the same files."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import (
        query_log_stream as qls,
    )
    from trino_adaptive_partitioning_tool_spark.streaming import stream_join as sj

    in_dir = str(tmp_path / "events")
    _write_event_files(spark, in_dir)
    customer = tables.load_table(spark, SMOKE_SF_DIR, "customer")

    stream = sj.stream_events_json(spark, in_dir)
    enriched = sj.enriched_segment_rollup(stream, customer)
    assert enriched.isStreaming
    got = qls.drain(enriched)

    batch = sj.enriched_segment_rollup(
        spark.read.schema(sj.EVENT_SCHEMA).json(in_dir), customer
    )
    key = ["c_mktsegment", "event_type", "n_events", "total_value"]
    assert got.count() == batch.count()
    assert got.join(batch, key, "inner").count() == batch.count()


def test_feed_cache_reuses_dir_and_never_checkpoints_inside(spark):
    """Streaming feeds are written once per (appId, sf_dir, variant) and
    the cached dir never accumulates a checkpoint (a reused checkpoint
    would replay committed offsets and drain nothing)."""
    import os

    from conftest import SMOKE_SF_DIR
    from trino_adaptive_partitioning_tool_spark.queries import streaming_q as sq

    d1 = sq._events_json_dir(spark, SMOKE_SF_DIR)
    d2 = sq._events_json_dir(spark, SMOKE_SF_DIR)
    assert d1 == d2
    dd = sq._events_json_dir(spark, SMOKE_SF_DIR, dupes=True)
    assert dd != d1
    assert os.path.isdir(f"{d1}/events")
    assert not os.path.exists(f"{d1}/ckpt")
    c1, c2 = qls._fresh_ckpt(), qls._fresh_ckpt()
    assert c1 != c2


def test_outer_attribution_stream_equals_batch(spark):
    """The sentinel-pinned LEFT OUTER interval join must emit exactly
    the batch left join over real events — every unmatched click's
    outer row included (watermark advanced past all real windows by the
    far-future sentinels)."""
    from conftest import SMOKE_SF_DIR
    from trino_adaptive_partitioning_tool_spark.queries import (
        streaming_q as sq,
    )
    from trino_adaptive_partitioning_tool_spark.streaming import (
        stream_join as sj,
    )
    from pyspark.sql import functions as F

    got = sorted(
        map(
            tuple,
            sq.streaming_click_attribution_outer(
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    # batch twin over the SAME json feed (ms truncation included)
    def _no_rewrite(d):
        raise AssertionError("the feed must be memoized for the session")

    tmp = sq._memo_feed(spark, "clickpurchase_outer", SMOKE_SF_DIR, _no_rewrite)
    batch = spark.read.schema(sj.EVENT_SCHEMA).json(f"{tmp}/events")
    want = sorted(
        map(
            tuple,
            sj.click_purchase_interval_join_outer(batch)
            .where(F.col("user_id") >= 0)
            .collect(),
        )
    )
    assert got == want
    assert any(t[2] is None for t in got), "no outer rows exercised"


def test_streaming_similarity_ingest_equals_batch_lsh(spark):
    """The stream-static candidate join is slicing-invariant, so the
    drained + ranked result must equal batch lsh_bucketed_topk for the
    identical query set."""
    from pyspark.sql import functions as F

    from conftest import SMOKE_SF_DIR
    from trino_adaptive_partitioning_tool_spark.operators import (
        similarity as sim_ops,
    )
    from trino_adaptive_partitioning_tool_spark.queries import streaming_q
    from trino_adaptive_partitioning_tool_spark.sources import tables

    streamed = streaming_q.streaming_similarity_ingest(spark, SMOKE_SF_DIR)
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    queries = emb.where(
        (F.col("vec_id") >= streaming_q._INGEST_LO)
        & (F.col("vec_id") < streaming_q._INGEST_HI)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    batch = sim_ops.lsh_bucketed_topk(emb, queries, k=5)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_usage_store_multi_batch_equals_batch_drift(spark, tmp_path):
    """The mined-usage increment store must be micro-batch-slicing
    invariant: a FORCED multi-batch drain (8 feed files, 1 file per
    trigger) has to produce exactly the batch one-shot aggregation,
    and the trigger frame built on it must equal
    partition_recommendation_drift row-for-row."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.queries.advisor import (
        _DRIFT_CUTOFF,
        drift_triggers_from_usage,
        partition_recommendation_drift,
    )
    from trino_adaptive_partitioning_tool_spark.streaming import (
        usage_store,
    )
    from trino_adaptive_partitioning_tool_spark.streaming.query_log_stream import (
        QUERY_LOG_SCHEMA,
    )

    feed = str(tmp_path / "logs")
    fixtures.query_logs_df(spark).repartition(8).write.mode(
        "overwrite"
    ).json(feed)
    stream = (
        spark.readStream.schema(QUERY_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    store = str(tmp_path / "store")
    usage_store.maintain_usage_store(stream, store, _DRIFT_CUTOFF)

    # store == batch one-shot increments over the whole log
    got_usage = sorted(
        tuple(r)
        for r in spark.read.parquet(store)
        .select("column_name", "n_early", "n_late")
        .collect()
    )
    want_usage = sorted(
        tuple(r)
        for r in usage_store.usage_increments(
            fixtures.query_logs_df(spark), _DRIFT_CUTOFF
        ).collect()
    )
    assert got_usage == want_usage
    assert len(got_usage) > 0

    # triggers off the store == the batch drift query, row for row
    got = [
        tuple(r)
        for r in drift_triggers_from_usage(
            spark, SMOKE_SF_DIR, spark.read.parquet(store)
        ).collect()
    ]
    want = [
        tuple(r)
        for r in partition_recommendation_drift(spark, SMOKE_SF_DIR).collect()
    ]
    assert got == want


def _usage_store_case(spark):
    """(fold(store, batch_id, run_token), counts(store)) for the
    mined-usage store; counts are the additive columns per key."""
    from trino_adaptive_partitioning_tool_spark.queries.advisor import (
        _DRIFT_CUTOFF,
    )
    from trino_adaptive_partitioning_tool_spark.streaming import (
        usage_store,
    )

    logs = fixtures.query_logs_df(spark)

    def fold(store, batch_id, run_token=None):
        usage_store.upsert_usage_batch(
            spark, logs, store, _DRIFT_CUTOFF,
            batch_id=batch_id, run_token=run_token,
        )

    def counts(store):
        return {
            r["column_name"]: (r["n_early"], r["n_late"])
            for r in spark.read.parquet(store).collect()
        }

    return fold, counts


def _sketch_store_case(spark):
    """The same pair for the HLL sketch store: n_rows per ingest day is
    its additive column (sketch union is idempotent, so a double fold
    shows only in the row counts)."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import (
        incremental_sink as isink,
    )

    events = tables.load_table(spark, SMOKE_SF_DIR, "events")

    def fold(store, batch_id, run_token=None):
        isink.upsert_batch(
            spark, events, store, ["user_id", "event_type"],
            batch_id=batch_id, run_token=run_token,
        )

    def counts(store):
        return {
            r["part"]: (r["n_rows"],)
            for r in spark.read.parquet(store).collect()
        }

    return fold, counts


@pytest.mark.parametrize(
    "store_case", [_usage_store_case, _sketch_store_case],
    ids=["usage", "sketch"],
)
def test_usage_store_replay_and_corrupt_store(spark, tmp_path, store_case):
    """foreachBatch replay contract, for both stores that fold through
    usage_store.fold_batch: the same batch_id applied twice folds once
    (crash-replay must not double-count); a corrupt store raises
    instead of silently resetting history; a missing store still reads
    as empty on the first batch."""
    import os

    fold, counts = store_case(spark)
    store = str(tmp_path / "store")
    fold(store, 0, "ckptA")
    once = counts(store)
    assert once

    def times(k):
        return {key: tuple(k * v for v in vals) for key, vals in once.items()}

    # replay of batch 0 under the SAME checkpoint token: no-op
    fold(store, 0, "ckptA")
    assert counts(store) == once
    # a NEW batch id folds (counts double since it's the same frame)
    fold(store, 1, "ckptA")
    assert counts(store) == times(2)
    # a FRESH checkpoint restarts batch ids at 0 — with a different
    # token, batch 0 must FOLD, not be dropped as a replay
    fold(store, 0, "ckptB")
    assert counts(store) == times(3)

    # corrupt store: must raise, never silently reset to one batch
    bad = str(tmp_path / "bad_store")
    os.makedirs(bad)
    with open(f"{bad}/part-00000.parquet", "wb") as fh:
        fh.write(b"not parquet at all")
    with pytest.raises(Exception):
        fold(bad, 0)


@pytest.mark.parametrize(
    "name", ["streaming_window_rollup", "streaming_sessionize"]
)
def test_repeated_drains_leave_no_view(spark, name):
    """A drain drops its memory sink's temp view: calling a complete-mode
    and an append-mode query several times adds no stream_* entry to the
    session catalog, and every call returns the same rows."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.queries import registry

    def stream_views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("stream_")
        }

    query = registry.queries()[name]
    before = stream_views()
    runs = [
        sorted(map(tuple, query(spark, SMOKE_SF_DIR).collect()))
        for _ in range(3)
    ]
    assert stream_views() == before
    assert runs[0] and runs[1] == runs[0] and runs[2] == runs[0]


def test_repeated_drains_leave_no_checkpoint(spark, tmp_path, monkeypatch):
    """A drain removes its checkpoint when it returns: a memory sink has
    nothing that replays against it, so repeated drains in one process
    (a live dashboard) leave no tapt_ckpt_* directory behind."""
    import os
    import tempfile

    in_dir = str(tmp_path / "logs")
    _write_log_files(spark, in_dir)
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    stream = qls.stream_query_logs(spark, in_dir)
    want = fixtures.query_logs_df(spark).count()
    for mode, out in [
        ("complete", stream.groupBy().count()),
        ("append", stream.select("query_id")),
    ] * 2:
        rows = qls.drain(out, mode).collect()
        assert (rows[0][0] if mode == "complete" else len(rows)) == want
    assert not [d for d in os.listdir(scratch) if d.startswith("tapt_ckpt_")]
