"""Similarity-search queries over the `embeddings` table (extensions).

Every top-k query ends in the operators/similarity.topk kernel and is
oracle-checked against its DuckDB twin (topk_sql: both sides rank on
ROUND(score, 6) with a vec_id tie-break, so last-ulp float drift can't
flip ranks). LSH bucket membership is exact integer arithmetic, so the
bucketed paths replay in SQL; the k-means paths (IVF, PQ) are
recall-gated against the exact top-k.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo
from ..operators import similarity as ops
from ..sources import tables
from .registry import register

_N_QUERIES = 5  # vec_id < 5 are the probe vectors
_K = 5

# Exact all-pairs (O(n^2) crossJoin) queries: ground-truth twins for the
# LSH paths, meaningful only at oracle scale (sf <= 0.01). bench.py
# asserts none of these ever enters the headline benchmark set.
ORACLE_BASELINE_ONLY = frozenset(
    {"embedding_near_duplicates_exact", "embedding_dedup_keep_canonical"}
)

# candidate-pair sources of the oracles: every (probe, vector) pair, and
# every vector pair of the exact near-duplicate baseline
_PROBE_PAIRS = (
    "SELECT q.vec_id AS query_id, e.vec_id FROM embeddings q, embeddings e"
    f" WHERE q.vec_id < {_N_QUERIES}"
)
_ALL_PAIRS = (
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b"
    " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
)
_EXACT_DUP_THRESHOLD = 0.4


def _probe_set(emb: DataFrame) -> DataFrame:
    """The query set: the first _N_QUERIES vectors as (query_id,
    embedding)."""
    return emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _lsh_sig_cte(n_planes: int, n_tables: int) -> str:
    """sigs CTE replaying the quantized sign-random-projection signatures:
    q = floor(x*1000) int64, bit i = (q . plane_i) > 0, packed per table.
    Exact integer arithmetic on both engines (operators/similarity)."""
    legs = []
    for t in range(n_tables):
        planes = ops._deterministic_planes(n_planes, seed=42 + t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(q, {plane}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )
        legs.append(
            f"SELECT vec_id, {t} AS table_idx, CAST({bits} AS BIGINT)"
            f" AS signature FROM qv"
        )
    return (
        "qv AS (SELECT vec_id, list_transform(embedding,"
        " x -> floor(CAST(x AS DOUBLE) * 1000)) AS q FROM embeddings),\n"
        "    sigs AS (\n      "
        + "\n      UNION ALL\n      ".join(legs)
        + "\n    )"
    )


def _lsh_topk_oracle(query_pred: str) -> str:
    """Also the oracle of the STREAMING ingest twin
    (queries/streaming_q.streaming_similarity_ingest), which passes its
    own query-set predicate — the stream-static candidate join is
    slicing-invariant, so the drained result equals this batch SQL."""
    return ops.topk_sql(
        f"""
      WITH {_lsh_sig_cte(ops.LSH_PLANES, ops.LSH_TABLES)}
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM sigs c
      JOIN sigs q ON c.table_idx = q.table_idx
                 AND c.signature = q.signature
      WHERE {query_pred}""",
        _K,
    )


def _lsh_near_dup_oracle(threshold: float, n_planes: int, n_tables: int) -> str:
    return ops.near_pairs_sql(
        f"""
      WITH {_lsh_sig_cte(n_planes, n_tables)}
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a
      JOIN sigs b ON a.table_idx = b.table_idx
                 AND a.signature = b.signature
                 AND a.vec_id < b.vec_id""",
        threshold,
    )


def _recall_gated(exact: DataFrame, approx: DataFrame, gate: float) -> DataFrame:
    """The exact rows when the approximate top-k's recall@k against them
    is >= gate, else the approximate rows — a guaranteed hash mismatch.
    Green therefore certifies both the ANN recall contract and the exact
    ranking against the oracle engine."""
    recall = (
        exact.join(
            approx.select("query_id", "vec_id").withColumn("m", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .agg(
            (F.sum(F.coalesce(F.col("m"), F.lit(0))) / F.count(F.lit(1)))
            .alias("recall")
        )
    )
    exact_leg = (
        exact.crossJoin(F.broadcast(recall))
        .where(F.col("recall") >= gate)
        .drop("recall")
    )
    approx_leg = (
        approx.crossJoin(F.broadcast(recall))
        .where(F.col("recall") < gate)
        .drop("recall")
    )
    return exact_leg.unionByName(approx_leg)


_EXACT_COSINE_ORACLE = ops.topk_sql(_PROBE_PAIRS, _K)


@register("similarity_topk_bruteforce", oracle=_EXACT_COSINE_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × one corpus scan."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return ops.topk(emb, _probe_set(emb), _K)


@register(
    "similarity_lsh_topk",
    oracle=_lsh_topk_oracle(f"q.vec_id < {_N_QUERIES}"),
    memo=True,
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection LSH buckets (the
    100 TB scale path: candidates come from bucket joins, not full
    scans). Quantized integer projections make bucket membership exactly
    reproducible in SQL → fully hash-checked."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return ops.lsh_bucketed_topk(emb, _probe_set(emb), _K)


# Production-grade recall contract of both k-means paths (IVF and PQ).
# IVF at nprobe=8/16 cells measures recall@5 0.85-0.975 across k-means
# seeds {0,1,7,42,123} at both sf0.001 and sf0.01; PQ with a 1/3 ADC
# shortlist measures 0.85-0.95. The 0.8 gate holds with margin; the
# floors are re-proven in tests/test_ivf.py and tests/test_pq.py.
_RECALL_GATE = 0.8


@register("similarity_ivf_topk", oracle=_EXACT_COSINE_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cell) approximate top-k — the partition-pruned ANN
    path: a query scans nprobe cells, not the corpus.

    RECALL-GATED oracle (k-means assignment isn't SQL-reproducible, so
    the sketch can't be replayed): the query computes BOTH the IVF
    result and the exact brute-force top-k, and emits the exact rows
    when IVF recall@k >= _RECALL_GATE (the floor tests/test_ivf.py
    proves for this corpus), else the raw IVF rows (_recall_gated)."""
    from ..operators import ivf

    emb = tables.load_table(spark, sf_dir, "embeddings")
    queries = _probe_set(emb)
    # nprobe=8 of 16 cells: half the corpus scanned per query (vs full
    # for brute force) at recall@5 >= 0.85 across seeds — the standard
    # IVF recall/scan-fraction trade, tuned for the 0.8 contract
    return _recall_gated(
        ops.topk(emb, queries, _K),
        ivf.ivf_topk(emb, queries, _K, n_cells=16, nprobe=8),
        _RECALL_GATE,
    )


def _exact_near_pairs(emb: DataFrame) -> DataFrame:
    """All-pairs near duplicates at cosine >= _EXACT_DUP_THRESHOLD."""
    a, b = ops.pair_sides(ops.normed(emb))
    return ops.cosine_pairs(a.crossJoin(b), _EXACT_DUP_THRESHOLD)


@register(
    "embedding_near_duplicates_exact",
    oracle=ops.near_pairs_sql(_ALL_PAIRS, _EXACT_DUP_THRESHOLD),
)
def embedding_near_duplicates_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (all-pairs ≥ 0.4) — the
    correctness baseline the LSH variant is measured against; fully
    hash-checked.

    ORACLE-BASELINE-ONLY (sf <= 0.01): the O(n^2) crossJoin is the
    POINT of this query — it defines ground truth for
    embedding_near_duplicates' bucketed LSH join, which is the
    production path at scale. Never benchmark it and never run it on a
    full corpus; bench.py asserts it stays out of the headline set
    (ORACLE_BASELINE_ONLY)."""
    return _exact_near_pairs(tables.load_table(spark, sf_dir, "embeddings"))


@register(
    "embedding_dedup_keep_canonical",
    oracle=ops.keep_canonical_sql(
        ops.near_pairs_sql(_ALL_PAIRS, _EXACT_DUP_THRESHOLD)
    ),
)
def embedding_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, keep-canonical rule: drop any vector that has a
    near-duplicate (cosine ≥ 0.4) with a SMALLER id — one pass of the
    SemDeDup-style policy, expressed as pair-generation + left-anti join
    (no iterative connected components). Hash-checked.

    ORACLE-BASELINE-ONLY (sf <= 0.01): pair generation here is the exact
    all-pairs crossJoin so the result is a provable ground truth; the
    scale path swaps in the LSH candidate join (embedding_near_duplicates
    / operators.similarity.cosine_near_duplicates) with identical
    downstream keep-canonical semantics. Excluded from bench.py's
    headline set (ORACLE_BASELINE_ONLY)."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return ops.keep_canonical(emb, _exact_near_pairs(emb))


@register(
    "embedding_near_duplicates", oracle=_lsh_near_dup_oracle(0.35, 5, 6)
)
def embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH self-join — quantized
    integer projections → fully hash-checked against the SQL replay.

    Thresholds are tuned DOWN for the synthetic corpus (max pairwise
    cosine is ~0.60 at every sf — there are no planted near-dups), so the
    candidate-join + verify path actually produces rows: cos ≥ 0.35 with
    5-plane buckets (LSH recall is partial by design). A production run
    would use a threshold near 0.95 and 12-plane buckets."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return ops.cosine_near_duplicates(emb, threshold=0.35, n_planes=5, n_tables=6)


@register(
    "similarity_pq_topk",
    memo=True,  # codebook training happens at plan-build time — pay once
    oracle=ops.topk_sql(_PROBE_PAIRS, _K, "l2"),
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py) — the memory-bound
    100 TB path: vectors stored as m=4 one-byte codes (64x compression),
    ADC table lookups build a 1/3 shortlist, exact L2 re-ranks only the
    shortlist (raw vectors fetched by semi-join for shortlist ids).

    RECALL-GATED oracle (k-means codebooks aren't SQL-reproducible, same
    contract as similarity_ivf_topk): the query computes BOTH the PQ
    result and the exact L2 top-k and emits the exact rows when PQ
    recall@k >= _RECALL_GATE, else the raw PQ rows (_recall_gated)."""
    from ..operators import pq

    emb = tables.load_table(spark, sf_dir, "embeddings")
    queries = _probe_set(emb)
    # shortlist scales with the corpus (1/3, floor 150): a FIXED 150 was
    # 30% of the sf0.01 corpus but only 7.5% at sf0.1, where the recall
    # gate fired red in the sf0.1 full-parity sweep. The
    # testdata embeddings are near-uniform random — PQ's worst case
    # (distances concentrate, m=4 k=16 ADC barely separates neighbors),
    # measured recall@5 at sf0.1: 10% shortlist -> 0.40, 20% -> 0.68,
    # 33% -> 0.88. Real embedding corpora have cluster structure that
    # lets much smaller shortlists clear the same gate. One count at
    # plan-build time — memo=True pays it once per session.
    shortlist = max(150, emb.count() // 3)
    return _recall_gated(
        ops.topk(emb, queries, _K, "l2"),
        pq.pq_topk_rerank(emb, queries, _K, shortlist),
        _RECALL_GATE,
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination: the benchmark-contamination scan a
# training pipeline runs BEFORE the n-gram pass (queries/text.py
# decontamination_ngram_overlap) — paraphrased contamination survives token
# overlap checks but not embedding similarity.

_EMBENCH_PERMILLE = 30  # ~3% of vectors play the held-out benchmark set


def _embench_pred_sql() -> str:
    from ..operators.dedup import md5_60_sql

    h = md5_60_sql("concat_ws('|', 'embench', CAST(vec_id AS VARCHAR))")
    return f"({h} % 1000) < {_EMBENCH_PERMILLE}"


def _decon_embedding_oracle() -> str:
    return f"""
    WITH bench AS (
      SELECT {ops.doubles_sql("embedding")} AS bvec
      FROM embeddings WHERE {_embench_pred_sql()}
    ),
    corpus AS (
      SELECT vec_id, label, {ops.doubles_sql("embedding")} AS cvec
      FROM embeddings WHERE NOT ({_embench_pred_sql()})
    ),
    per_vec AS (
      SELECT c.vec_id, c.label,
             MAX({ops.score_sql("c.cvec", "b.bvec")}) AS max_cosine
      FROM corpus c, bench b
      GROUP BY c.vec_id, c.label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(FLOOR(max_cosine * 10) AS BIGINT) AS cosine_band,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(max_cosine) AS top_cosine
    FROM per_vec GROUP BY label, cosine_band
    """


@register("decontamination_embedding_scan", oracle=_decon_embedding_oracle())
def decontamination_embedding_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-corpus-vector max cosine against a hash-held-out benchmark
    set, banded per label — the evidence report that decides where the
    contamination threshold should sit for THIS corpus (here nothing
    crosses 0.7: the corpus is clean, and the report proves it instead
    of silently returning zero rows).

    Scale shape: the benchmark set is collected into ONE normalized
    numpy matrix shipped inside an Arrow pandas_udf closure (benchmark
    sets are small by construction — the 100 TB side is always the
    corpus), so the scan is MAP-ONLY: no shuffle until the final
    label×band rollup of corpus-row-count inputs. The per-pair cosine
    is a (batch × dim) @ (dim × n_bench) float64 matmul — an
    F.transform/fold formulation runs every corpus×bench pair on
    Spark's interpreted HOF path, measured ~10x slower than the SIMD
    matmul for the same arithmetic (operators/similarity._signature_udf
    makes the same trade).
    Rounding to 6 decimals keeps last-ulp float drift from flipping a
    band; rounding is monotone, so round(max) == max(round-each) and
    the F.round can sit OUTSIDE the udf, preserving Spark's exact
    HALF_UP semantics vs the oracle.

    Fails loudly when the hash split selects ZERO benchmark vectors
    (possible at tiny scales): the oracle's cross join against an
    empty bench CTE yields zero rows while a silent Spark side would
    emit null cosine_band rows, a parity break. An empty benchmark set
    means the scan is meaningless, so it raises instead.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..operators.dedup import md5_60

    emb = tables.load_table(spark, sf_dir, "embeddings")
    bench_pred = (
        F.pmod(
            md5_60(
                F.concat_ws(
                    "|", F.lit("embench"), F.col("vec_id").cast("string")
                )
            ),
            F.lit(1000),
        )
        < _EMBENCH_PERMILLE
    )
    # benchmark-set collect: bench-sized by construction (~3 permille
    # of vec_ids, a few hundred KB), never corpus-sized — the one
    # legitimate driver-side materialization in this query. Memoized per
    # session: repeat invocations (bench warm reps, digest folds) must
    # not re-scan the table for a matrix that cannot have changed.
    def bench_matrix() -> np.ndarray:
        bench_rows = emb.where(bench_pred).select("embedding").collect()
        if not bench_rows:
            raise ValueError(
                "decontamination_embedding_scan: the embench hash split "
                "selected 0 benchmark vectors — the scan is meaningless "
                "(and the oracle parity breaks) without a benchmark "
                f"set; got 0 of permille gate {_EMBENCH_PERMILLE}"
            )
        bmat = np.array(
            [r["embedding"] for r in bench_rows], dtype=np.float64
        )
        # normalize once per bench vector:
        # cosine(c, b) == dot(c/|c|, b/|b|)
        return (bmat / np.linalg.norm(bmat, axis=1, keepdims=True)).T

    bmat = session_memo(spark, "similarity.embench", (sf_dir,), bench_matrix)

    @pandas_udf("double")
    def _max_dot(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series((mat @ bmat).max(axis=1))

    per_vec = emb.where(~bench_pred).select(
        "label",
        F.round(_max_dot(F.col("embedding")), 6).alias("max_cosine"),
    )
    return per_vec.groupBy(
        F.col("label").cast("bigint").alias("label"),
        F.floor(F.col("max_cosine") * 10).cast("bigint").alias("cosine_band"),
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("max_cosine").alias("top_cosine"),
    )
