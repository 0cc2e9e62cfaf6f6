"""Every vector-search path ends in the same exact ranking: with its
pruning opened all the way (every IVF cell probed, a PQ shortlist the
size of the corpus, every (query, vec) pair as candidates), an
approximate path must return exactly the exact top-k rows, scores and
ranks included."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SMOKE_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import ivf, pq, similarity
from trino_adaptive_partitioning_tool_spark.sources import tables

_K = 5


def _ivf_all_cells(emb, q):
    return ivf.ivf_topk(emb, q, k=_K, n_cells=8, nprobe=8)


def _pq_full_shortlist(emb, q):
    return pq.pq_topk_rerank(emb, q, k=_K, shortlist=emb.count())


def _all_pair_candidates(emb, q):
    cand = q.select("query_id").crossJoin(emb.select("vec_id"))
    return similarity.topk(emb, q, _K, candidates=cand)


@pytest.mark.parametrize(
    "approx, metric",
    [
        (_ivf_all_cells, "cosine"),
        (_pq_full_shortlist, "l2"),
        (_all_pair_candidates, "cosine"),
    ],
    ids=["ivf_every_cell", "pq_full_shortlist", "kernel_all_pair_candidates"],
)
def test_opened_pruning_equals_exact_topk(spark, approx, metric):
    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(map(tuple, similarity.topk(emb, q, _K, metric).collect()))
    assert len(want) == 8 * _K
    assert sorted(map(tuple, approx(emb, q).collect())) == want
