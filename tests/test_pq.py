"""Product-quantization ANN (operators/pq.py): compression, encoding,
ADC self-match, rerank recall floor, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import pq, similarity
from trino_adaptive_partitioning_tool_spark.sources import tables


def _queries(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_encode_shape_and_range(spark):
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    models = pq.train_codebooks(emb)
    codes = pq.encode(emb, models)
    assert codes.count() == emb.count()
    row = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
    ).collect()[0]
    assert row["m"] == 4
    assert 0 <= row["lo"] and row["hi"] <= 15


def test_adc_self_match_rank1(spark):
    """A corpus vector queried against the corpus must ADC-rank itself
    first (its own codes minimize every subspace lookup)."""
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    top = pq.pq_topk(emb, _queries(emb, 3), k=1).collect()
    assert all(r["query_id"] == r["vec_id"] for r in top)


def test_rerank_recall_floor(spark):
    """The driver-facing contract: ADC shortlist (30%) + exact rerank
    must clear the 0.8 recall gate (queries/similarity.py) — measured
    0.85-0.95 across seeds on this corpus."""
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = _queries(emb, 8)
    approx = pq.pq_topk_rerank(emb, q, k=5, shortlist=150).collect()
    exact = similarity.topk(emb, q, 5, "l2").collect()
    e = {(r["query_id"], r["vec_id"]) for r in exact}
    a = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(e & a) / len(e) >= 0.8


def test_pq_deterministic(spark):
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = _queries(emb, 3)
    x = sorted(map(tuple, pq.pq_topk_rerank(emb, q, k=3, shortlist=50).collect()))
    y = sorted(map(tuple, pq.pq_topk_rerank(emb, q, k=3, shortlist=50).collect()))
    assert x == y


def test_string_query_ids(spark):
    """The ADC table carries the caller's query-id type — string ids
    must survive pq_topk instead of failing createDataFrame."""
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = _queries(emb, 2).select(
        F.concat(F.lit("q-"), F.col("query_id")).alias("query_id"),
        "embedding",
    )
    top = pq.pq_topk(emb, q, k=1).collect()
    assert {r["query_id"] for r in top} == {"q-0", "q-1"}
    assert all(isinstance(r["query_id"], str) for r in top)


def test_empty_corpus_raises(spark):
    import pytest

    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    empty = emb.where(F.lit(False))
    with pytest.raises(ValueError, match="empty corpus"):
        pq.train_codebooks(empty)
