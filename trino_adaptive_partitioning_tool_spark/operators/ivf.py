"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path besides hyperplane LSH (operators/similarity.py):
a coarse k-means quantizer partitions the corpus into cells; a query
probes only its `nprobe` nearest cells. At 100 TB the corpus is stored
bucketed/partitioned BY CELL, so a query touches nprobe partitions
instead of the full corpus — the classic IVF trade of recall for scan
fraction.

Training uses pyspark.ml KMeans (seeded) over the corpus; cell
assignment is the model's own JVM-side transform. Query→cell probing
happens driver-side with numpy over the (tiny) centroid matrix.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, topk


def train_quantizer(corpus: DataFrame, n_cells: int):
    """Seeded coarse quantizer over every corpus vector. At scale, fit
    on a sample: the quantizer only needs the coarse geometry."""
    train = corpus.select(
        array_to_vector(_as_double(F.col("embedding"))).alias("features")
    )
    return KMeans(k=n_cells, seed=42, maxIter=20).fit(train)


def assign_cells(corpus: DataFrame, model) -> DataFrame:
    """(id, cell, vector) — the inverted file. In production this is the
    DataFrame you write out `partitionBy("cell")`."""
    vectored = corpus.select(
        F.col("vec_id"),
        _as_double(F.col("embedding")).alias("dvec"),
        array_to_vector(_as_double(F.col("embedding"))).alias("features"),
    )
    return model.transform(vectored).select(
        "vec_id", F.col("prediction").alias("cell"), "dvec"
    )


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int, n_cells: int, nprobe: int
) -> DataFrame:
    """Approximate top-k: the candidates of a query are the vectors in
    its nprobe nearest cells, ranked by the exact cosine kernel. Returns
    (query_id, vec_id, cosine, rank)."""
    model = train_quantizer(corpus, n_cells)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    qrows = queries.select(
        "query_id", _as_double(F.col("embedding")).alias("qvec")
    ).collect()  # query set is small by definition
    probe_rows = []
    for r in qrows:
        d2 = ((centers - np.array(r["qvec"])) ** 2).sum(axis=1)
        probe_rows += [(r["query_id"], int(c)) for c in np.argsort(d2)[:nprobe]]
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, "query_id long, cell int"
    )
    cand = (
        assign_cells(corpus, model)
        .join(F.broadcast(probes), "cell")
        .select("query_id", "vec_id")
    )
    return topk(corpus, queries, k, candidates=cand)
