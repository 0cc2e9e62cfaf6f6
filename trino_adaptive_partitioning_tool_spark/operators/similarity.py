"""Similarity search over embedding columns (array<float>).

Every exact result ends in one kernel, `topk`: score (query, vector)
pairs exactly, ROUND the score to 6 places, and rank per query with a
vec_id tie-break. The pairs are either all of them (brute force) or a
(query_id, vec_id) candidate frame an approximate path pruned the corpus
to: LSH buckets (here), IVF cells (operators/ivf.py), a PQ shortlist
(operators/pq.py) or the streaming ingest join
(streaming/vector_ingest.py). Pruning is pluggable; the refinement is
shared. `topk_sql` and `score_sql` are the kernel's DuckDB twins for the
oracles. Near-duplicate pair finders share one norm-once cosine scorer
(`normed` + `pair_sides` + `cosine_pairs`).

Frames carry `vec_id` (corpus) or `query_id` (query set) beside an
`embedding` column.

Scale design: the brute-force path broadcasts the (small) query set and
scans the corpus once — at 100 TB the corpus side stays partitioned and
the top-k is a per-partition partial top-k + global merge (Spark's window
/ TakeOrdered handles this). The LSH path shuffles on (plane-signature
bucket), so candidate volume, not n², crosses the wire. Dot products are
JVM-side `zip_with`/`aggregate` intrinsics — no Python, no UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sum(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    return _sum(F.zip_with(a, b, lambda x, y: x * y))


def _norm(a: Column) -> Column:
    return F.sqrt(_sum(F.transform(a, lambda x: x * x)))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _l2(a: Column, b: Column) -> Column:
    return F.sqrt(_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y))))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# metric -> (exact pair score, ranking direction, DuckDB function)
_METRICS = {
    "cosine": (cosine_expr, "DESC", "list_cosine_similarity"),
    "l2": (_l2, "ASC", "list_distance"),
}


def rank_topk(scored: DataFrame, order: Column, k: int) -> DataFrame:
    """Ranks 1..k of each query's (query_id, vec_id, score) rows in
    `order` (a sort order on the score), ties broken by vec_id for
    determinism."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= k
    )


def topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k: (query_id, vec_id, <metric>, rank). `metric` is
    "cosine" (ranked high to low) or "l2" (low to high).

    Without `candidates` every (query, vector) pair is scored: broadcast
    query set × one corpus scan. With a (query_id, vec_id) `candidates`
    frame only those pairs are scored; vectors are fetched for candidate
    ids only and the query side broadcasts (query-set-sized)."""
    score, direction, _ = _METRICS[metric]
    q = F.broadcast(
        queries.select("query_id", _as_double(F.col("embedding")).alias("qvec"))
    )
    c = corpus.select("vec_id", _as_double(F.col("embedding")).alias("cvec"))
    pairs = (
        c.crossJoin(q)
        if candidates is None
        else candidates.join(c, "vec_id").join(q, "query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(score(F.col("qvec"), F.col("cvec")), 6).alias(metric),
    )
    by = F.col(metric)
    return rank_topk(scored, by.desc() if direction == "DESC" else by.asc(), k)


def score_sql(a: str, b: str, metric: str = "cosine") -> str:
    """DuckDB twin of the kernel's rounded pair score of two double
    lists."""
    return f"ROUND({_METRICS[metric][2]}({a}, {b}), 6)"


def doubles_sql(col: str) -> str:
    """DuckDB twin of `_as_double`."""
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def rank_sql(scored: str, k: int, metric: str = "cosine") -> str:
    """DuckDB twin of `rank_topk`: `scored` is a query yielding
    (query_id, vec_id, <metric>)."""
    return f"""
    SELECT query_id, vec_id, {metric}, rank FROM (
      SELECT query_id, vec_id, {metric},
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY {metric} {_METRICS[metric][1]}, vec_id
             ) AS BIGINT) AS rank
      FROM ({scored}) s
    ) t WHERE rank <= {k}
    """


def topk_sql(pairs: str, k: int, metric: str = "cosine") -> str:
    """DuckDB twin of `topk` over the `embeddings` table: `pairs` is a
    query yielding (query_id, vec_id)."""
    score = score_sql(
        doubles_sql("eq.embedding"), doubles_sql("ec.embedding"), metric
    )
    return rank_sql(
        f"""
      SELECT p.query_id, p.vec_id, {score} AS {metric}
      FROM ({pairs}) p
      JOIN embeddings eq ON eq.vec_id = p.query_id
      JOIN embeddings ec ON ec.vec_id = p.vec_id""",
        k,
        metric,
    )


def normed(vecs: DataFrame) -> DataFrame:
    """(vec_id, vec, nrm): each embedding as doubles with its norm
    computed ONCE, so a pair join never recomputes both norms per pair
    (3x the interpreted-HOF work). dot / (nrm_a * nrm_b) evaluates to the
    same double as `cosine_expr`."""
    return vecs.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))


_SIDE_COLUMNS = {"vec_id": "id", "vec": "vec", "nrm": "nrm"}


def pair_sides(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two sides of a pair join over a `normed` frame: vec_id, vec
    and nrm become id_a, vec_a, nrm_a on one and id_b, vec_b, nrm_b on
    the other; any other column (a blocking key) keeps its name, so the
    sides can equi-join on it."""
    return tuple(
        v.select(
            *[
                F.col(c).alias(f"{_SIDE_COLUMNS[c]}_{side}")
                if c in _SIDE_COLUMNS
                else c
                for c in v.columns
            ]
        )
        for side in "ab"
    )


def cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine) of the `pairs` (joined sides from
    `pair_sides`) with id_a < id_b and ROUND(cosine, 6) >= threshold."""
    cos = _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def near_pairs_sql(pairs: str, threshold: float) -> str:
    """DuckDB twin of `cosine_pairs` over the `embeddings` table: `pairs`
    is a query yielding (id_a, id_b) with id_a < id_b."""
    score = score_sql(doubles_sql("ea.embedding"), doubles_sql("eb.embedding"))
    return f"""
    SELECT * FROM (
      SELECT p.id_a, p.id_b, {score} AS cosine
      FROM ({pairs}) p
      JOIN embeddings ea ON ea.vec_id = p.id_a
      JOIN embeddings eb ON eb.vec_id = p.id_b
    ) s WHERE cosine >= {threshold}
    """


def keep_canonical(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """The keep-lowest-id dedup rule over the `embeddings` table: the
    (vec_id, label) of every vector with no near-duplicate pair
    (id_a < id_b) of a smaller id."""
    dominated = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.join(dominated, "vec_id", "left_anti").select(
        "vec_id", F.col("label").cast("bigint").alias("label")
    )


def keep_canonical_sql(pairs: str) -> str:
    """DuckDB twin of `keep_canonical`: `pairs` is a query yielding the
    near-duplicate (id_a, id_b) pairs."""
    return f"""
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT id_b FROM ({pairs}) d)
    """


QUANT_SCALE = 1000  # embedding values are floor(x * QUANT_SCALE) int64
LSH_DIM = 64
LSH_PLANES, LSH_TABLES = 12, 4  # bucket shape of the top-k paths


def _deterministic_planes(n_planes: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 sign-random-projection planes (seeded so
    signatures are stable across runs/executors; each LSH table MUST get
    a distinct seed or the tables are identical and add no recall).

    Integer entries — combined with floor-quantized embeddings the whole
    projection is exact int64 arithmetic, so bucket membership is
    bit-for-bit reproducible in the DuckDB oracle (a float projection's
    sign can flip with summation order near zero)."""
    rng = np.random.default_rng(seed)
    return rng.choice([-1, 1], size=(n_planes, LSH_DIM)).tolist()


def _signature_udf(n_planes: int, n_tables: int):
    """Vectorized signature computation: one (batch x dim) @ (dim x
    n_tables*n_planes) int64 matmul per Arrow batch, sign bits packed per
    table. A column-expression formulation needs n_tables x n_planes x
    dim literal nodes evaluated on Spark's interpreted HOF path —
    measured ~10x slower than this SIMD matmul even at 500 vectors.
    Quantization: q = floor(float64(x) * QUANT_SCALE) — exact in any
    engine; dots stay far below 2^53 so the oracle's double-precision
    list_dot_product reproduces them exactly."""
    from pyspark.sql.functions import pandas_udf

    planes = np.concatenate(
        [
            np.array(_deterministic_planes(n_planes, seed=42 + t), dtype=np.int64).T
            for t in range(n_tables)
        ],
        axis=1,
    )  # (dim, n_tables*n_planes) — table t occupies columns [t*p:(t+1)*p)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def sigs(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())[:, :LSH_DIM].astype(np.float64)
        q = np.floor(mat * QUANT_SCALE).astype(np.int64)
        bits = (q @ planes) > 0  # (batch, n_tables*n_planes)
        out = []
        for row in bits:
            out.append(
                [
                    int(row[t * n_planes:(t + 1) * n_planes] @ weights)
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return sigs


def bucket_signatures(
    vecs: DataFrame,
    id_col: str,
    n_planes: int = LSH_PLANES,
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """(id_col, table_idx, signature): the LSH bucket key of every vector
    in each of `n_tables` tables. Works identically on a static frame or
    a streaming one (the signature UDF is stateless)."""
    sig_udf = _signature_udf(n_planes, n_tables)
    return vecs.select(
        id_col,
        F.posexplode(sig_udf(_as_double(F.col("embedding")))).alias(
            "table_idx", "signature"
        ),
    )


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Approximate top-k: `LSH_TABLES` independent hyperplane signatures;
    query joins corpus on any matching (table, signature) bucket, exact
    cosine + top-k within the candidate set.

    Recall/cost dial: more tables → higher recall, more candidates. The
    join key is (table_idx, signature): a hash-partition shuffle, no n²."""
    c = bucket_signatures(corpus, "vec_id")
    q = bucket_signatures(queries, "query_id")
    # dedupe candidate pairs on IDS ONLY — running distinct over rows that
    # carry the 64-double vectors hashes/shuffles the arrays themselves
    cand_ids = (
        c.join(F.broadcast(q), ["table_idx", "signature"])
        .select("query_id", "vec_id")
        .distinct()
    )
    return topk(corpus, queries, k, candidates=cand_ids)


def cosine_near_duplicates(
    corpus: DataFrame, threshold: float, n_planes: int, n_tables: int
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine ≥ threshold) via the
    LSH buckets — self-join on (table, signature), verify with exact
    cosine."""
    ids = bucket_signatures(corpus, "vec_id", n_planes, n_tables)
    pair_ids = (
        ids.withColumnRenamed("vec_id", "id_a")
        .join(
            ids.withColumnRenamed("vec_id", "id_b"), ["table_idx", "signature"]
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # ids only — never shuffle the vectors through distinct
    )
    a, b = pair_sides(normed(corpus))
    return cosine_pairs(pair_ids.join(a, "id_a").join(b, "id_b"), threshold)
