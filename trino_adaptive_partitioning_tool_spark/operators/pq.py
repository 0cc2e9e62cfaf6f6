"""Product-quantization (PQ) approximate nearest neighbor.

The third ANN scale path beside hyperplane LSH (operators/similarity.py)
and IVF cells (operators/ivf.py): PQ attacks the MEMORY side of 100 TB
similarity search. Each vector is split into ``m`` subvectors, each
subvector is vector-quantized against a per-subspace codebook of ``k``
centroids (trained with seeded pyspark.ml KMeans), and the corpus is
stored as ``m`` small integer codes per vector — 64 float32 dims become
4 bytes (64x compression), so a corpus that cannot hold its raw vectors
in executor memory holds its codes easily.

Queries score candidates with ADC (asymmetric distance computation): per
query, an m x k table of exact subspace distances to every centroid is
computed driver-side over the (tiny) codebooks; a candidate's
approximate squared L2 distance is then m table lookups — pure JVM array
indexing via ``aggregate``, no per-row Python and no full-vector math on
the corpus side.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, rank_topk, topk

M, N_CODES = 4, 16  # subspaces per vector, centroids per subspace


def train_codebooks(corpus: DataFrame) -> list:
    """One seeded KMeans per subspace. Returns the fitted models (their
    centers are the codebooks). At scale, fit on a sample — codebooks
    only need the coarse geometry per subspace."""
    dvec = corpus.select(_as_double(F.col("embedding")).alias("v"))
    head = dvec.first()
    if head is None:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = len(head["v"])
    if dim % M:
        raise ValueError(f"dim {dim} not divisible by m={M}")
    sub = dim // M
    models = []
    for i in range(M):
        train = dvec.select(
            array_to_vector(F.slice("v", i * sub + 1, sub)).alias("features")
        )
        models.append(KMeans(k=N_CODES, seed=42 + i, maxIter=20).fit(train))
    return models


def encode(corpus: DataFrame, models: list) -> DataFrame:
    """(id, codes): per vector, the m nearest-centroid indices — the
    compressed representation you would persist instead of raw vectors.
    Assignment runs through the models' own JVM transform, so encoding
    is a map-only pass over the corpus."""
    m = len(models)
    sub = None
    df = corpus.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    for i, model in enumerate(models):
        if sub is None:
            sub = len(np.asarray(model.clusterCenters()[0]))
        df = df.withColumn(
            f"__f{i}", array_to_vector(F.slice("v", i * sub + 1, sub))
        )
        df = model.transform(
            df,
            {model.featuresCol: f"__f{i}", model.predictionCol: f"__c{i}"},
        )
    return df.select(
        "vec_id",
        F.array(*[F.col(f"__c{i}") for i in range(m)]).alias("codes"),
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Approximate L2 top-k by ADC over PQ codes. Returns
    (query_id, vec_id, adc_l2, rank) — adc_l2 is sqrt of the summed
    subspace table lookups, rounded to 6 decimals before ranking so
    ordering is representation-stable."""
    models = train_codebooks(corpus)
    codes = encode(corpus, models)

    books = [
        np.stack([np.asarray(c) for c in mod.clusterCenters()])
        for mod in models
    ]
    sub = books[0].shape[1]
    qrows = queries.select(
        "query_id", _as_double(F.col("embedding")).alias("qvec")
    ).collect()  # query set is small by definition
    qtab = []
    for r in qrows:
        qv = np.array(r["qvec"])
        dtab = [
            [
                float(((books[i][c] - qv[i * sub : (i + 1) * sub]) ** 2).sum())
                for c in range(books[i].shape[0])
            ]
            for i in range(len(books))
        ]
        qtab.append((r["query_id"], dtab))
    # carry the caller's query-id type (string ids are common) instead of
    # assuming long
    qid_type = queries.schema["query_id"].dataType.simpleString()
    qdf = corpus.sparkSession.createDataFrame(
        qtab, f"query_id {qid_type}, dtab array<array<double>>"
    )

    scored = codes.crossJoin(F.broadcast(qdf)).select(
        "query_id",
        "vec_id",
        F.round(
            F.sqrt(
                F.expr(
                    f"aggregate(sequence(0, {len(books) - 1}), "
                    "CAST(0.0 AS DOUBLE), "
                    "(acc, i) -> acc + dtab[i][codes[i]])"
                )
            ),
            6,
        ).alias("adc_l2"),
    )
    return rank_topk(scored, F.col("adc_l2").asc(), k)


def pq_topk_rerank(
    corpus: DataFrame, queries: DataFrame, k: int, shortlist: int
) -> DataFrame:
    """Production PQ retrieval: ADC over the compressed codes builds a
    per-query SHORTLIST (cheap — m table lookups per candidate, no raw
    vectors touched), then the exact L2 kernel re-ranks only the
    shortlist. At a 10% shortlist the full-precision math runs on 10% of
    the corpus; the raw vectors are fetched for shortlist ids only (a
    semi-join), which is the entire point at 100 TB — codes in memory,
    vectors on disk. Returns (query_id, vec_id, l2, rank) with exact
    distances."""
    cand = pq_topk(corpus, queries, shortlist).select("query_id", "vec_id")
    return topk(corpus, queries, k, "l2", candidates=cand)
