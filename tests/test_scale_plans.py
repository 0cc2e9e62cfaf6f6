"""Scale-regime plan tests: simulate the 100 TB cluster locally.

At 100 TB no join side fits in a broadcast, so every headline join query
must still (a) plan as a shuffle join — SortMergeJoin or
ShuffledHashJoin, never BroadcastNestedLoopJoin / CartesianProduct —
and (b) return byte-identical results when broadcasting is disabled
(`spark.sql.autoBroadcastJoinThreshold=-1`). Catalyst picks broadcast
plans at test SF purely from size estimates; these tests prove the
queries don't *depend* on that choice.

Separately, AQE's skew-join splitting is exercised end-to-end: a hot-key
fact join is shown to split the skewed partition at runtime
(`skew=true` in the final adaptive plan) while matching the plain
join's result — the runtime complement to the explicit salting
operators in operators/skew.py.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

from trino_adaptive_partitioning_tool_spark import memo
from trino_adaptive_partitioning_tool_spark.operators import recommend
from trino_adaptive_partitioning_tool_spark.plans import inspect

from conftest import SMOKE_SF_DIR

_QUERIES = entrymod.queries()

# Join-heavy oracle-checked queries with no intentional all-pairs stage.
_JOIN_QUERIES = [
    "shipping_priority",
    "region_revenue",
    "volume_shipping_bilateral",
    "asof_last_click_before_purchase",
    "range_interval_join",
    "nation_market_share",
    "top_revenue_supplier",
    "semi_join_suppliers",
    "anti_join_customers",
    "large_volume_customers",
    "full_outer_daily_activity",
    "decontamination_ngram_overlap",
    # r3: remaining LLM-pipeline flagships in the driver's checked window
    "dedup_minhash_lsh",
    "similarity_lsh_topk",
    "dedup_cluster_rollup",
    "bm25_search_topk",
]


@contextmanager
def _confs(spark, **kv):
    # memoized (prepared-plan) queries would otherwise return a
    # DataFrame whose physical plan was already finalized under the
    # DEFAULT confs — evicting the session memo's entries for the smoke
    # data on entry and exit makes every plan assertion in here observe
    # the overridden regime
    app = spark.sparkContext.applicationId
    old = {k: spark.conf.get(k, None) for k in kv}
    memo.evict(app, SMOKE_SF_DIR)
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        memo.evict(app, SMOKE_SF_DIR)
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _canon_rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


# Queries whose plan legitimately contains BroadcastNestedLoopJoin under
# threshold=-1: their crossJoins are EXPLICIT F.broadcast() hints against
# single-row aggregate sides (scalar corpus constants — N, avgdl). A
# 1-row build side makes BNLJ an O(n) map-side scalar attach, not the
# n×m nested loop the blanket assertion guards against.
_SCALAR_CONSTANT_BNLJ_OK = {"bm25_search_topk"}


@pytest.mark.parametrize("name", _JOIN_QUERIES)
def test_joins_survive_no_broadcast_regime(spark, name):
    fn = _QUERIES[name]
    want = _canon_rows(fn(spark, SMOKE_SF_DIR))
    with _confs(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = fn(spark, SMOKE_SF_DIR)
        plan = inspect.physical_plan(df)
        assert "CartesianProduct" not in plan, f"{name} degenerates to cartesian"
        if name not in _SCALAR_CONSTANT_BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} degenerates to nested-loop at scale"
            )
        got = _canon_rows(df)
    assert got == want, f"{name} changes results without broadcast joins"


def test_aqe_splits_skewed_sort_merge_join(spark, tmp_path):
    """A 100k-row hot key must trigger AQE skew-join splitting
    (skew=true in the final plan) and still aggregate correctly."""
    fact = spark.range(120_000).select(
        F.when(F.col("id") < 100_000, F.lit(0))
        .otherwise((F.col("id") % 50) + 1)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(51).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("grp")
    )
    # write fact out so AQE sees real shuffle statistics, not an in-memory range
    fact_path = str(tmp_path / "skew_fact")
    fact.write.mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)

    with _confs(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # skew means > factor x the MEDIAN partition; with as few
            # partitions as a 2-core session's default (2) the median is
            # the hot partition itself, so pin a count that leaves it an
            # outlier on any host
            "spark.sql.shuffle.partitions": "8",
        },
    ):
        joined = fact.join(dim, "k").groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 4).alias("sv")
        )
        rows = {r["grp"]: (r["n"], r["sv"]) for r in joined.collect()}
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final_plan, "AQE did not split the skewed partition"
    assert rows["g0"][0] == 100_000
    assert len(rows) == 51


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """At 100 TB the win on selective fact⋈filtered-dim joins comes from
    Catalyst's runtime bloom-filter injection: the filtered side's keys
    are sketched and pushed into the probe side's scan, cutting shuffle
    volume before the join. Thresholds are lowered so the local fixture
    triggers the same rule a real cluster would."""
    fact = spark.range(200_000).select(
        (F.col("id") % 10_000).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("flag"),
    )
    fact_path, dim_path = str(tmp_path / "bf_fact"), str(tmp_path / "bf_dim")
    fact.write.mode("overwrite").parquet(fact_path)
    dim.write.mode("overwrite").parquet(dim_path)
    fact, dim = spark.read.parquet(fact_path), spark.read.parquet(dim_path)

    with _confs(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
            # default 10GB: the probe side must look big for injection —
            # locally everything is KB-sized, so drop the floor
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
            "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        },
    ):
        joined = (
            fact.join(dim.where(F.col("flag") == "keep"), "k")
            .groupBy("k")
            .agg(F.round(F.sum("v"), 4).alias("sv"))
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        n = joined.count()
    assert "might_contain" in plan.lower(), (
        "runtime bloom filter was not injected into the probe side"
    )
    assert n == 100  # 10k dim keys / 100


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Partition-advice output is only worth anything if the engine then
    PRUNES those partitions: writing the fact partitioned on the
    recommended key and joining through a filtered dim must plan a
    dynamicpruning subquery on the fact scan (DPP), reading only the
    matching partition directories."""
    fact = spark.range(50_000).select(
        (F.col("id") % 12).alias("month_key"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(12).select(
        F.col("id").alias("month_key"),
        F.when(F.col("id") < 2, F.lit("Q1")).otherwise(F.lit("rest")).alias("q"),
    )
    fact_path = str(tmp_path / "dpp_fact")
    fact.write.mode("overwrite").partitionBy("month_key").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim_path = str(tmp_path / "dpp_dim")
    dim.write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)

    with _confs(
        spark,
        **{
            "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
            # force the reuse-broadcast DPP path to be considered even
            # though local sizes are tiny
            "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "10.0",
        },
    ):
        joined = fact.join(dim.where(F.col("q") == "Q1"), "month_key").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 4).alias("sv")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        row = joined.collect()[0]
    assert "dynamicpruning" in plan.lower(), (
        "fact scan is not dynamically pruned by the dim filter"
    )
    # ids 0..49999 with id % 12 in {0, 1}: 4167 each
    assert row["n"] == 8334


# Shuffle-count ceilings for the driver-window flagships (measured at
# r3, +1 headroom). Not micro-pinning: the point is to catch silent plan
# regressions — a lost broadcast hint or an accidental extra exchange
# shows up as a ceiling break long before it shows up as a slow bench.
_SHUFFLE_CEILINGS = {
    # Ceilings re-derived in r7 when shuffle_count moved to the
    # formatted-plan counter (plans/inspect.py): the old tree-string
    # counter re-printed cached-build subtrees at every reference, so
    # its totals depended on unrelated session cache state (the same
    # drift plan measured 21 or 48). The formatted counter numbers each
    # node once and treats cached scans as leaves — session caching can
    # only LOWER it, so fresh-build values are safe upper bounds.
    "pricing_summary": 1,
    "shipping_priority": 1,
    "region_revenue": 1,
    "event_hourly_rollup": 1,
    # dedup_minhash_lsh is deliberately absent: it is memo=True with an
    # internal signature-cache barrier, so its printed plan (and exchange
    # count) depends on whether that cache is materialized — the
    # no-broadcast/no-cartesian test above guards its join shape instead.
    "similarity_lsh_topk": 2,
    "decontamination_ngram_overlap": 4,
    "text_repetition_stats": 1,
    "bm25_search_topk": 6,
    "train_test_split_counts": 1,
    "multimodal_decode_stats": 1,
    # r4: both sketch queries re-derive the MERGED SKETCH (<= depth x
    # width rows) for extra legs — total-from-row-0 in cms, the
    # triangular cumulative self-join in the quantile probe — so their
    # plans carry a few more exchanges; each added exchange moves
    # sketch-sized data only, and both queries got faster (1.3->0.9s,
    # WindowExec-free) for it
    # +2: the ensure_parallelism round-robin repartitions (full-data
    # shuffles, now counted — they spread the single-row-group scan's
    # CPU-bound sketch work across cores; see plans/inspect.shuffle_count)
    "cms_heavy_hitters": 9,
    # r10: footer aggregation is a LocalRelation sort (the one exchange
    # is the tiny orderBy); the decon scan is map-only until the final
    # label x band rollup (bench side arrives by broadcast — pinned
    # SortMergeJoin-free in tests/test_pipeline_r10.py); jsonl is a
    # distributed gzip-json parse + one rollup; the BPE queries shuffle
    # per round (word groupBy reused, pair groupBy + the global rank
    # over the PAIR VOCABULARY — bounded by alphabet^2, never data-sized;
    # iterations = 3 unrolled rounds each re-shuffling the vocabulary)
    "metadata_pushdown_aggregates": 1,
    "decontamination_embedding_scan": 1,
    "jsonl_ingest_stats": 1,
    "bpe_merge_pair_counts": 2,
    "bpe_merge_iterations": 14,
    # training chain (14) + the per-lang vocab groupBy + its rollup
    "bpe_corpus_compression": 16,
    "warc_ingest_stats": 1,
    "html_text_extraction_stats": 2,
    "crawl_corpus_funnel": 1,
    "multimodal_flac_decode_stats": 1,
    # Arrow decode stage + the samples-per-block rollup
    "multimodal_adpcm_decode_stats": 1,
    "multimodal_avi_frame_stats": 2,
    # r10b: confusion = predictor joins + two-level count; gap sweep =
    # one session_window shuffle per gap config; pagerank = 3 unrolled
    # power iterations, each an edge join + groupBy(dst) over NODE/EDGE
    #-sized frames (the rank window at the end is top-20 over nodes)
    "language_id_confusion": 2,
    "sessionize_gap_sensitivity": 4,
    "pagerank_transaction_graph": 33,
    # r10c: banded phash self-join (candidate distinct + final rollup;
    # the band join broadcasts at smoke scale)
    "multimodal_phash_near_dup": 4,
    # r11: the end-to-end crawl->corpus funnel — minhash signature
    # groupBy + banded self-join + candidate rollup on the doc-grain
    # survivors, plus the doc-grain flag joins (broadcast at smoke
    # scale) and the 1-row rollup; never all-pairs
    "crawl_to_corpus_pipeline": 6,
    # r12: the media funnel — banded phash self-join (candidate
    # distinct) + dominated/semi doc-grain joins (broadcast at smoke
    # scale) + the final 1-row aggregate; decode/hash are Arrow map
    # stages over the persisted ingest scan, never all-pairs
    "media_to_corpus_pipeline": 4,
    "histogram_quantile_estimate": 18,
    "incremental_histogram_rollup": 2,
    "text_entropy_scores": 3,
    "winnow_containment_pairs": 5,  # +1 ensure_parallelism round-robin
    "pii_redaction_stats": 1,
    "document_chunking_stats": 2,
    # r6: shingle stream shuffled once by id (window), once by h
    # (doc-frequency window), once by id (final rollup)
    "duplicate_span_stats": 3,
    # r6: one shuffle by source (cap window; the groupBy reuses its
    # partitioning) + the final range sort
    "source_cap_report": 2,
    # The two drift queries read the session's persisted mined query log
    # and are measured in one stated state (_MINED_LOG_READERS below):
    # nothing else cached, the mined log materialized, as in a session
    # whose advisor has mined the log once. The log-attach join carries
    # no broadcast hint (the log is unbounded over time); Catalyst
    # broadcasts it because the materialized log is small, and plans a
    # sort-merge join (6 and 22 exchanges) while it is not materialized.
    "workload_drift_report": 4,
    # embeds the full exact-stats advisor pipeline (dimension-sized
    # aggregations) + the drift aggregation + the trigger joins
    "partition_recommendation_drift": 17,
    # r7: map-only scoring above the scan — the only exchange is the
    # 1-row broadcast of the bucket->weight map
    "text_model_quality_scores_loaded": 0,
    # r7: one shuffle, the (group, shard) lane window
    "sequence_packing_manifest": 1,
    # r7 integer-lattice k-means: assignment is MAP-ONLY (centroids are
    # a k x dim literal folded into codegen — no join, no shuffle); the
    # curation queries on top pay only their own composition
    "embedding_kmeans_assign": 0,
    # r8: +1 SinglePartition exchange for the 1-row grand total the
    # cluster_share/est_pairs advisory columns attach — it aggregates
    # the k-row profile, not the corpus
    "embedding_cluster_profile": 3,
    "cluster_balanced_sample": 1,
    "cluster_outlier_prune": 1,
    # r7 cont.: intra-cluster pair join (2) + dominated distinct (1) +
    # anti-join (1) — the SemDeDup scale path; never an all-pairs stage
    "semdedup_keep_canonical": 4,
    # one groupBy builds the token-hash vectors; assignment is map-only
    "document_topic_clusters": 1,
    # vector build + strata rollup + 1-row total attach + output sort
    "cluster_mixture_plan": 4,
    # vector build + quality-score equi-join + per-cluster rollup
    "cluster_quality_profile": 3,
    # greedy-seeded variant: assignment is the same map-only expression
    "embedding_kmeans_greedy_assign": 0,
    # doc-vector build + metadata equi-join + per-topic cap window
    "topic_balanced_doc_sample": 3,
    # map-only full-corpus scoring + k-sized rollup + output range sort
    "embedding_drift_report": 2,
}


# queries whose plan depends on whether recommend.mined_fixture_logs is
# materialized: a materialized cache carries its real size, which
# decides the broadcast of the log-attach join
_MINED_LOG_READERS = {"workload_drift_report", "partition_recommendation_drift"}


@pytest.mark.parametrize(
    "name", sorted(_SHUFFLE_CEILINGS), ids=sorted(_SHUFFLE_CEILINGS)
)
def test_flagship_shuffle_ceilings(spark, name):
    if name in _MINED_LOG_READERS:
        # one cache state in every test order: a session with nothing
        # cached and nothing memoized but the materialized mined log.
        # Frames other tests cached (advisor calls outside the session
        # memo release nothing) move this count too.
        app = spark.sparkContext.applicationId
        memo._release(memo._ENTRIES.pop(app, {}).values())
        spark.catalog.clearCache()
        recommend.mined_fixture_logs(spark).count()
    df = _QUERIES[name](spark, SMOKE_SF_DIR)
    n = inspect.shuffle_count(df)
    assert n <= _SHUFFLE_CEILINGS[name], (
        f"{name}: {n} exchanges > ceiling {_SHUFFLE_CEILINGS[name]} — "
        "plan regressed (lost broadcast / extra shuffle?)"
    )


# r5: the two queries that used to force corpus-sized broadcasts (the
# winnow keep/stop fingerprint sets and the funnel non-representative
# set). Under threshold=-1 every BroadcastExchange left in the initial
# plan is an EXPLICIT hint; neither query may force any — on dup-heavy
# corpora even the winnow STOP set approaches the distinct-fingerprint
# count, so every frame in these plans is potentially corpus-sized. AQE
# may still convert to broadcast at runtime when a side actually fits —
# that is the desired behavior and is invisible to the initial plan
# inspected here.
_BOUNDED_BROADCAST_BUDGET = {
    "winnow_containment_pairs": 0,
    "corpus_filter_funnel": 0,
    # r7: the drift report's query-log attach join is unhinted (the log
    # is unbounded over time); AQE may still broadcast at runtime when
    # the projection actually fits
    "workload_drift_report": 0,
}


@pytest.mark.parametrize(
    "name", sorted(_BOUNDED_BROADCAST_BUDGET), ids=sorted(_BOUNDED_BROADCAST_BUDGET)
)
def test_no_unbounded_broadcasts_under_scale_regime(spark, name):
    fn = _QUERIES[name]
    want = _canon_rows(fn(spark, SMOKE_SF_DIR))
    # the reference run above may persist intermediates whose CACHED
    # plans (built under the default threshold) would be printed inside
    # InMemoryTableScan subtrees and miscounted as forced broadcasts —
    # drop them so the scale-regime plan is built from scratch
    spark.catalog.clearCache()
    with _confs(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = fn(spark, SMOKE_SF_DIR)
        plan = inspect.physical_plan(df)
        n_bc = plan.count("BroadcastExchange")
        assert n_bc <= _BOUNDED_BROADCAST_BUDGET[name], (
            f"{name}: {n_bc} forced broadcasts under threshold=-1 — an "
            "unbounded-cardinality frame is being broadcast (OOM at 100 TB)"
        )
        got = _canon_rows(df)
    assert got == want, f"{name} changes results without broadcast joins"


def test_star_cc_rounds_survive_no_broadcast_regime(spark):
    """The large-star/small-star connected-components path (the 100 TB
    branch of the size-adaptive dispatch — operators/graph.py) must keep
    its per-round joins as shuffle joins under threshold=-1 and converge
    to the same labeling as the single-task union-find path."""
    import random

    from trino_adaptive_partitioning_tool_spark.operators import graph

    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = _canon_rows(graph.connected_components(df))
    with _confs(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        # force the distributed star path
        labels = graph.connected_components(df, single_task_threshold=0)
        # the iterative rounds checkpoint eagerly, so plan inspection of
        # the per-round operators happens inside _large_star/_small_star;
        # assert the ROUND building blocks plan as shuffle joins
        e = df.selectExpr("src", "dst")
        round_df = graph._small_star(graph._large_star(e)).distinct()
        plan = inspect.physical_plan(round_df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        got = _canon_rows(labels)
    assert got == want


def test_streaming_ingest_join_survives_no_broadcast_regime(spark):
    """The vector-ingest candidate join must not force a broadcast of
    the corpus signature frame (corpus-sized at 100 TB): under
    threshold=-1 its plan may contain zero BroadcastExchange nodes, and
    results must be unchanged."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.sources import tables
    from trino_adaptive_partitioning_tool_spark.streaming import (
        vector_ingest,
    )

    emb = tables.load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    want = _canon_rows(vector_ingest.ingest_candidates(q, emb).distinct())
    with _confs(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        cand = vector_ingest.ingest_candidates(q, emb)
        assert inspect.physical_plan(cand).count("BroadcastExchange") == 0
        assert _canon_rows(cand.distinct()) == want
