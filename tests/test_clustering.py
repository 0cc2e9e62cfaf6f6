"""Unit tests for the integer-lattice k-means operator
(operators/clustering.py): exact rounding, partition-order independence
(the property the oracle replay relies on), empty-cluster carry, and
the map-only assignment contract."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from trino_adaptive_partitioning_tool_spark.operators import clustering as C
from trino_adaptive_partitioning_tool_spark.plans import inspect

from conftest import SMOKE_SF_DIR


def test_round_centroid_is_half_away_from_zero():
    for s in range(-50, 51):
        for n in (1, 2, 3, 7, 10):
            got = C._round_centroid(s, n)
            exact = Fraction(s, n)
            # half-away-from-zero reference via Fraction arithmetic
            half = Fraction(1, 2)
            if exact >= 0:
                want = int(exact + half)
            else:
                want = -int(-exact + half)
            assert got == want, (s, n, got, want)


def test_assignments_partition_order_independent(spark):
    """The exactness contract: integer sums commute, so repartitioning
    the corpus cannot change a single assignment or distance."""
    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    base = sorted(
        tuple(r) for r in C.kmeans_assignments(emb, k=4, iters=3).collect()
    )
    shuffled = sorted(
        tuple(r)
        for r in C.kmeans_assignments(
            emb.repartition(13), k=4, iters=3
        ).collect()
    )
    assert base == shuffled


def test_empty_cluster_carries_previous_centroid(spark):
    """Two identical init centroids: the tie-break sends every member to
    the lower cluster id, leaving the twin empty — it must keep its
    previous centroid instead of crashing or collapsing k."""
    rows = [(i, [0.0, 0.0]) for i in range(2)] + [
        (i, [10.0, 10.0]) for i in range(2, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # init = 3 lowest ids -> centroids [0,0], [0,0], [10000,10000]
    centroids, quantized = C.kmeans_fit(df, k=3, iters=2)
    assert centroids[1] == [0, 0]  # carried, not recomputed
    assigned = C.assign_clusters(quantized, centroids).collect()
    by_cluster = {r["vec_id"]: r["cluster"] for r in assigned}
    assert all(by_cluster[i] == 0 for i in range(2))
    assert all(by_cluster[i] == 2 for i in range(2, 6))
    # nobody lands in the empty twin (tie-break picks the lower id)
    assert all(r["cluster"] != 1 for r in assigned)


def test_assignment_is_map_only(spark):
    """The 100 TB contract: nearest-centroid assignment must not plan a
    join or shuffle — centroids are a literal folded into codegen."""
    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    quantized = emb.select(
        "vec_id", C.quantize_expr(F.col("embedding")).alias("v")
    )
    df = C.assign_clusters(quantized, [[0] * 64, [500] * 64])
    assert inspect.shuffle_count(df) == 0
    assert "Join" not in inspect.physical_plan(df)


def test_dist2_matches_naive_definition(spark):
    """The <q,q> - 2<q,c> + <c,c> expansion equals the naive per-dim
    sum of squared differences (both exact integers)."""
    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet").limit(20)
    centroids, quantized = C.kmeans_fit(emb, k=2, iters=1)
    got = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in C.assign_clusters(quantized, centroids).collect()
    }
    for row in quantized.collect():
        v = [int(x) for x in row["v"]]
        naive = [
            (j, sum((a - b) ** 2 for a, b in zip(v, c)))
            for j, c in enumerate(centroids)
        ]
        best = min(naive, key=lambda t: (t[1], t[0]))
        assert got[row["vec_id"]] == (best[0], best[1])


def test_centroid_model_round_trip(spark, tmp_path):
    """Fit -> write -> read -> assign must equal assigning with the
    in-memory centroids (integer centroids serialize exactly)."""
    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    centroids, quantized = C.kmeans_fit(emb, k=4, iters=2)
    path = str(tmp_path / "kmeans_model")
    C.write_centroids(spark, centroids, path, meta={"k": 4, "iters": 2})
    loaded, meta = C.read_centroid_model(spark, path)
    assert loaded == centroids
    assert meta == {"k": 4, "iters": 2}
    assert C.read_centroids(spark, path) == centroids
    a = sorted(tuple(r) for r in C.assign_clusters(quantized, centroids).collect())
    b = sorted(tuple(r) for r in C.assign_clusters(quantized, loaded).collect())
    assert a == b


def test_read_centroids_rejects_bad_models(spark, tmp_path):
    import pytest as _pytest

    empty = str(tmp_path / "empty_model")
    spark.createDataFrame(
        [], "cluster int, centroid array<long>, meta string"
    ).write.mode("overwrite").parquet(empty)
    with _pytest.raises(ValueError, match="empty centroid model"):
        C.read_centroids(spark, empty)

    gappy = str(tmp_path / "gappy_model")
    spark.createDataFrame(
        [(0, [1, 2], "{}"), (2, [3, 4], "{}")],
        "cluster int, centroid array<long>, meta string",
    ).write.mode("overwrite").parquet(gappy)
    with _pytest.raises(ValueError, match="non-contiguous"):
        C.read_centroids(spark, gappy)

    dup = str(tmp_path / "dup_model")
    spark.createDataFrame(
        [(0, [1, 2], "{}"), (0, [3, 4], "{}"), (1, [5, 6], "{}")],
        "cluster int, centroid array<long>, meta string",
    ).write.mode("overwrite").parquet(dup)
    with _pytest.raises(ValueError, match="duplicate cluster ids"):
        C.read_centroids(spark, dup)

    nully = str(tmp_path / "null_model")
    spark.createDataFrame(
        [(0, [1, None], "{}")],
        "cluster int, centroid array<long>, meta string",
    ).write.mode("overwrite").parquet(nully)
    with _pytest.raises(ValueError, match="NULL vector elements"):
        C.read_centroids(spark, nully)

    ragged = str(tmp_path / "ragged_model")
    spark.createDataFrame(
        [(0, [1, 2, 3], "{}"), (1, [4, 5], "{}")],
        "cluster int, centroid array<long>, meta string",
    ).write.mode("overwrite").parquet(ragged)
    with _pytest.raises(ValueError, match="ragged dimensions"):
        C.read_centroids(spark, ragged)

    # a ragged model would otherwise flow into assign_clusters, whose
    # zip_with pads the short vector with NULLs -> silent misassignment
    wrongdim = str(tmp_path / "wrongdim_model")
    spark.createDataFrame(
        [(0, [1, 2], '{"dim": 3}'), (1, [4, 5], '{"dim": 3}')],
        "cluster int, centroid array<long>, meta string",
    ).write.mode("overwrite").parquet(wrongdim)
    with _pytest.raises(ValueError, match="dimension mismatch"):
        C.read_centroids(spark, wrongdim)


def test_semdedup_mega_cluster_guard(spark):
    """One degenerate mega-cluster must raise before the pair join, not
    silently generate a quadratic shuffle (r7 verdict #3/#4)."""
    import pytest as _pytest

    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    giant = spark.range(500).select(
        F.col("id").alias("vec_id"), F.lit(0).alias("cluster")
    )
    # healthy frame below the ceiling: returns the max size
    assert qc.guard_cluster_sizes(giant, ceiling=1000) == 500
    with _pytest.raises(ValueError, match="mega-cluster guard"):
        qc.guard_cluster_sizes(giant, ceiling=100)
    # the error carries the remediation
    try:
        qc.guard_cluster_sizes(giant, ceiling=100)
    except ValueError as exc:
        assert "larger k" in str(exc)
        assert "124750 pairs" in str(exc)  # 500*499/2, exact

    # the abort-only mode goes through the guard: shrink the ceiling
    # and the real corpus (500 vecs across k=8) must trip it
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(qc, "_SEMDEDUP_CLUSTER_CEILING", 3)
        orig = qc.guard_cluster_sizes

        def patched(assigned, ceiling=None):
            return orig(assigned, ceiling=3)

        mp.setattr(qc, "guard_cluster_sizes", patched)
        with _pytest.raises(ValueError, match="mega-cluster guard"):
            qc._semdedup(spark, SMOKE_SF_DIR, split_oversized=False)

    # the registered query (auto-split default since r11) keeps the
    # guard as the post-split last resort: with a ceiling so small that
    # even sub_k-way sub-clusters stay oversized, the split path itself
    # must raise rather than build a quadratic pair join
    with _pytest.raises(ValueError, match="mega-cluster guard"):
        qc._semdedup(
            spark, SMOKE_SF_DIR, split_oversized=True, ceiling=2, sub_k=2
        )


def test_cluster_profile_advisory_columns(spark):
    """cluster_share sums to ~1 and est_pairs is exactly n*(n-1)/2 —
    the user-facing evidence row for the SemDeDup guard."""
    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    rows = qc.embedding_cluster_profile(spark, SMOKE_SF_DIR).collect()
    assert rows
    total = sum(r["n_vecs"] for r in rows)
    assert abs(sum(r["cluster_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["est_pairs"] == r["n_vecs"] * (r["n_vecs"] - 1) // 2
        assert abs(r["cluster_share"] - r["n_vecs"] / total) < 1e-6


def test_evict_fit_caches(spark):
    from conftest import memo_entry
    from trino_adaptive_partitioning_tool_spark import memo
    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    frame = qc._assignments(spark, SMOKE_SF_DIR)
    app = spark.sparkContext.applicationId
    fit = memo_entry(spark, "clustering.fit", (SMOKE_SF_DIR,))
    assert fit is not None and fit[1] is frame
    assert qc._assignments(spark, SMOKE_SF_DIR) is frame  # reused
    # eviction for a different sf_dir touches nothing
    assert memo.evict(app, "/nonexistent") == 0
    assert memo_entry(spark, "clustering.fit", (SMOKE_SF_DIR,)) is fit
    dropped = memo.evict(app, SMOKE_SF_DIR)
    assert dropped >= 1  # the fit (centroids + persisted assignment)
    assert memo_entry(spark, "clustering.fit", (SMOKE_SF_DIR,)) is None
    assert not frame.storageLevel.useMemory  # unpersisted
    # the surface still works after eviction (re-fits on demand)
    assert qc._assignments(spark, SMOKE_SF_DIR).count() > 0


def test_greedy_init_spreads_seeds(spark):
    """Farthest-point seeding must (a) be deterministic under
    repartitioning, (b) never pick duplicate seeds on a corpus with
    duplicate-heavy heads where lowest-id init does."""
    from pyspark.sql import functions as F

    # 5 copies of the same point at low ids, then three distant points
    rows = [(i, [0.0, 0.0]) for i in range(5)] + [
        (5, [10.0, 0.0]), (6, [0.0, 10.0]), (7, [10.0, 10.0])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quantized = df.select(
        "vec_id", C.quantize_expr(F.col("embedding")).alias("v")
    )
    seeds = C.greedy_init(quantized, k=4)
    assert len({tuple(s) for s in seeds}) == 4  # all distinct
    assert seeds[0] == [0, 0]  # anchor: lowest id
    # lowest-id init would have chosen [0,0] x4
    lowest = [
        [int(x) for x in r["v"]]
        for r in quantized.orderBy("vec_id").limit(4).collect()
    ]
    assert len({tuple(s) for s in lowest}) == 1
    # partition-order independence
    seeds2 = C.greedy_init(quantized.repartition(5), k=4)
    assert seeds2 == seeds


def test_greedy_init_raises_on_too_few_distinct_points(spark):
    from pyspark.sql import functions as F
    import pytest as _pytest

    rows = [(i, [0.0, 0.0]) for i in range(4)] + [(4, [5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quantized = df.select(
        "vec_id", C.quantize_expr(F.col("embedding")).alias("v")
    )
    with _pytest.raises(ValueError, match="distinct points"):
        C.greedy_init(quantized, k=3)  # only 2 distinct points


def test_kmeans_fit_rejects_unknown_init(spark):
    import pytest as _pytest

    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    with _pytest.raises(ValueError, match="unknown init"):
        C.kmeans_fit(emb, k=2, iters=1, init="farthest")
    with _pytest.raises(ValueError, match="unknown init"):
        C.kmeans_oracle_cte(2, 1, init="Greedy")


def test_split_oversized_refines_giant_cluster_bounded_pairs(spark):
    """r9 (verdict #3): the opt-in remediation path. One giant cluster
    (60 vectors, ceiling 20) is sub-clustered instead of aborting:
    pair volume drops from quadratic (1770) to the bounded sum over
    sub-clusters; the split is a pure REFINEMENT (members preserved,
    fresh ids past the parent range, healthy clusters untouched); and
    the sub-fit replays bit-for-bit in DuckDB via the same unrolled
    Lloyd CTE that certifies the parent fit."""
    import duckdb
    import pandas as pd

    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    # 4 interleaved well-separated blobs: seeds (lowest 8 ids) cover
    # every blob, so no sub-cluster can capture more than one blob
    vecs = [
        (i, [1000.0 * (i % 4) + float(i // 4), 0.0]) for i in range(60)
    ]
    vectors = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    assigned = spark.createDataFrame(
        [(i, 0) for i in range(60)] + [(100 + i, 7) for i in range(5)],
        "vec_id long, cluster int",
    )
    healthy = {100 + i for i in range(5)}
    all_vectors = vectors.unionByName(
        spark.createDataFrame(
            [(100 + i, [9.9e6 + i, 0.0]) for i in range(5)],
            "vec_id long, embedding array<double>",
        )
    )
    out = qc.split_oversized_assignments(
        assigned, all_vectors, ceiling=20, sub_k=8
    ).collect()
    got = {r["vec_id"]: r["cluster"] for r in out}
    # refinement: every member kept exactly once
    assert set(got) == set(range(60)) | healthy
    # healthy cluster untouched
    assert all(got[v] == 7 for v in healthy)
    # fresh ids past the parent range (max parent id 7 -> base 8)
    split_ids = {got[v] for v in range(60)}
    assert min(split_ids) >= 8
    # bounded: every sub-cluster under the ceiling, and total pair
    # volume collapses from the quadratic 60*59/2 = 1770
    from collections import Counter

    sizes = Counter(got[v] for v in range(60))
    assert max(sizes.values()) <= 20
    pairs = sum(n * (n - 1) // 2 for n in sizes.values())
    assert pairs < 1770 / 4
    # determinism: a second run splits identically (no RNG anywhere)
    out2 = qc.split_oversized_assignments(
        assigned, all_vectors, ceiling=20, sub_k=8
    ).collect()
    assert {r["vec_id"]: r["cluster"] for r in out2} == got

    # cross-engine: the sub-fit is the SAME certified integer-lattice
    # Lloyd's — replay it in DuckDB over the giant cluster's members
    # and demand the identical (vec_id, sub_cluster) map
    con = duckdb.connect()
    con.register(
        "split_fixture",
        pd.DataFrame(
            {"vec_id": [v for v, _ in vecs],
             "embedding": [e for _, e in vecs]}
        ),
    )
    cte, final = C.kmeans_oracle_cte(
        k=8, iters=3, dim=2, table="split_fixture"
    )
    oracle = {
        int(v): int(c)
        for v, c in con.execute(
            f"WITH {cte} SELECT vec_id, cluster FROM {final}"
        ).fetchall()
    }
    assert {v: got[v] - 8 for v in range(60)} == oracle


def test_semdedup_split_mode_matches_registered_result(spark):
    """Both modes green: at a healthy operating point (no cluster over
    the ceiling) the auto-split path is a no-op and must reproduce the
    abort-only guard-mode result row-for-row — the property that keeps
    the registered query (auto-split default since r11) hash-green
    against the oracle."""
    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    registered = sorted(
        (r["vec_id"], r["label"])
        for r in qc.semdedup_keep_canonical(spark, SMOKE_SF_DIR).collect()
    )
    guard_mode = sorted(
        (r["vec_id"], r["label"])
        for r in qc._semdedup(
            spark, SMOKE_SF_DIR, split_oversized=False
        ).collect()
    )
    assert registered == guard_mode and len(registered) > 0


def test_semdedup_split_frame_cached_and_evictable(spark):
    """Split mode must not pin a fresh persisted assignment frame per
    invocation: repeat calls share the session-memoized refined frame,
    and evicting the sf_dir releases it with the other entries."""
    from conftest import memo_entry
    from trino_adaptive_partitioning_tool_spark import memo
    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    app = spark.sparkContext.applicationId
    key = (SMOKE_SF_DIR, qc._SEMDEDUP_CLUSTER_CEILING, qc._K)
    qc._semdedup(spark, SMOKE_SF_DIR, split_oversized=True).count()
    frame = memo_entry(spark, "clustering.split", key)
    assert frame is not None
    qc._semdedup(spark, SMOKE_SF_DIR, split_oversized=True).count()
    assert memo_entry(spark, "clustering.split", key) is frame  # reused
    dropped = memo.evict(app, SMOKE_SF_DIR)
    assert dropped >= 1
    assert memo_entry(spark, "clustering.split", key) is None
