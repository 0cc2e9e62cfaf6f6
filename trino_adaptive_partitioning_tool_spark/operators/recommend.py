"""End-to-end partition-recommendation pipeline (the reference's CLI flow).

Parity target: the main pipeline of reference src/cli.py:22-133 —
catalog scan → DDL mining → query-log mining → usage/cardinality/
performance stats → composite scores → top-N → transform selection →
DDL scripts — with the §8.4 fix (stats computed ONCE, passed as
DataFrames, instead of recomputed inside script generation).

Every stage is lazy DataFrame algebra; calling code decides what to
materialize. The only driver-side work is schema introspection (parquet
footers) to enumerate candidate columns — O(tables), not O(rows).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memo import session_memo
from ..sources import fixtures, tables
from . import mining, scoring, stats, transforms


def view_columns_df(
    spark: SparkSession, sf_dir: str, views_df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """((view, table, column) candidate rows, distinct table names) from
    real parquet schemas.

    Replaces the reference's per-view information_schema.columns round
    trips (src/cli.py:43-57) with metadata-only schema reads. The table
    list is returned driver-side so callers don't need a second Spark
    job (`distinct().collect()`) to recover it.
    """
    view_rows = [
        (f"{r['table_schema']}.{r['table_name']}", r["table_name"])
        for r in views_df.select("table_schema", "table_name").collect()
    ]
    rows: dict[str, list[str]] = {"view": [], "table": [], "column": []}
    table_names: list[str] = []
    for view, table in view_rows:
        if table in tables.TABLES:
            if table not in table_names:
                table_names.append(table)
            for c in tables.table_columns(spark, sf_dir, table):
                rows["view"].append(view)
                rows["table"].append(table)
                rows["column"].append(c)
    schema = T.StructType(
        [T.StructField(name, T.StringType(), False) for name in rows]
    )
    # built through Arrow: a list goes through a Python-worker PythonRDD
    # that every action reading the candidates would re-run
    return (
        spark.createDataFrame(pa.table(rows), schema=schema),
        sorted(table_names),
    )


# The session's one mined-token frame over the fixture log, shared by
# every advisor query that mines the default log (mined_workload,
# workload_drift_report, bucket_join_advice,
# partition_recommendation_drift and run_analysis's default path).
# Spark's CacheManager never matches python-closure plans across separate
# builds, so without it the Arrow mining stage re-ran per consumer.
# Dimension-sized (tokens per fixture query), persisted.
def mined_fixture_logs(spark: SparkSession) -> DataFrame:
    return session_memo(
        spark, "recommend.mined_logs", (None,),
        lambda: mining.mine_query_log(fixtures.query_logs_df(spark)).persist(),
    )


# A table profile is a pure function of the tables, not of the log window
# or the views filter, so every as-of window (the spec-history query runs
# three) shares one persisted exact-NDV aggregation per table set and mode.
def _profiled_tables(
    spark: SparkSession,
    sf_dir: str,
    table_names: list[str],
    exact: bool,
    percentiles: bool,
) -> DataFrame:
    return session_memo(
        spark, "recommend.profile",
        (sf_dir, tuple(table_names), exact, percentiles),
        lambda: stats.profile_tables(
            {t: tables.load_table(spark, sf_dir, t) for t in table_names},
            exact=exact,
            percentiles=percentiles,
        ).persist(),
    )


class Analysis(dict):
    """run_analysis's frames by name. ``call_cached`` holds the frames
    that one call cached for itself alone; release_analysis drops them."""

    def __init__(self, frames, call_cached=()):
        super().__init__(frames)
        self.call_cached = tuple(call_cached)


def release_analysis(result: Analysis) -> None:
    """Unpersist the frames the run_analysis call that returned `result`
    cached for itself. Session-shared frames (the mined fixture log, the
    table profiles, a memoized default-input analysis) are never among
    them, so this is safe after every call."""
    for df in result.call_cached:
        df.unpersist(blocking=True)


def run_analysis(
    spark: SparkSession,
    sf_dir: str,
    logs_df: DataFrame | None = None,
    views_df: DataFrame | None = None,
    time_filter=None,
    exact_stats: bool = False,
    profile_percentiles: bool = True,
) -> Analysis:
    """Run the full analysis; returns every intermediate as a DataFrame.

    `time_filter` is a pyspark Column predicate over the log (the
    reference splices a raw SQL string — an injection surface, SURVEY
    §8.5; we require a Column expression).
    """
    if logs_df is None and views_df is None and time_filter is None:
        # Several consumers (the flagship recommendations, their exact
        # twin, the drift triggers, the dashboard) read the default-input
        # analysis, and mapInPandas closures canonicalize differently per
        # plan build, so one call's cache() marks never hit from another
        # call's plan: memoize the whole result for the session. The
        # build passes the default views explicitly, which takes the
        # unmemoized path; the entry owns the frames that call cached.
        # Custom logs, views or filters are caller state the key cannot
        # see.
        def build() -> tuple:
            res = run_analysis(
                spark, sf_dir, views_df=fixtures.catalog_views_df(spark),
                exact_stats=exact_stats,
                profile_percentiles=profile_percentiles,
            )
            return (dict(res), *res.call_cached)

        frames = session_memo(
            spark, "recommend.analysis",
            (sf_dir, exact_stats, profile_percentiles), build,
        )[0]
        return Analysis(frames)
    logs = logs_df if logs_df is not None else fixtures.query_logs_df(spark)
    views = views_df if views_df is not None else fixtures.catalog_views_df(spark)
    views = views.where(F.col("table_type") == "MATERIALIZED VIEW")
    if time_filter is not None:
        logs = logs.where(time_filter)

    # Both stats frames are dimension-sized (one row per column / mined
    # token) regardless of data scale; cache() makes every downstream
    # consumer reuse one materialization of the expensive subtrees (the
    # wide per-table aggregations, the Python mining UDF) instead of
    # re-running them per join branch. At 100 TB the cached frames are
    # still only O(columns) rows.
    # shared frame on the unfiltered default log; a TIME-FILTERED
    # default log reuses it through a semi-join (the miner is per-row
    # pure and query_id is the log's key, so mine(filter(logs)) ==
    # semi-filter(mine(logs)) — this turns the spec-history query's
    # per-generation Arrow mining stages into one shared pass);
    # per-call mining only when the caller supplied its OWN log
    cached: list[DataFrame] = []  # what this call caches for itself
    if logs_df is None and time_filter is None:
        mined_logs = mined_fixture_logs(spark)
    elif logs_df is None:
        mined_logs = mined_fixture_logs(spark).join(
            logs.select("query_id"), "query_id", "semi"
        )
    else:
        mined_logs = mining.mine_query_log(logs).cache()
        cached.append(mined_logs)
    candidates, table_names = view_columns_df(spark, sf_dir, views)

    profiled = _profiled_tables(
        spark, sf_dir, table_names, exact_stats, profile_percentiles
    )

    # usage and the composite scores are also dimension-sized (one row
    # per column/signal) and sit under several consumers each (scoring,
    # top-N, transforms, scripts): cache them for the same reason as the
    # frames above — notably usage's DDL-mining mapInPandas leg would
    # otherwise re-run per downstream reference.
    usage = scoring.weighted_column_usage(
        candidates.select("view", "column"), views, mined_logs
    ).cache()
    col_perf = scoring.column_performance(logs, mined_logs).cache()
    cached += [usage, col_perf]
    tab_perf = scoring.table_performance(logs, mined_logs)
    resource = scoring.resource_scores(logs)
    classified = scoring.classify_queries(logs, mined_logs)

    scored = scoring.partition_scores(
        candidates, usage, profiled, col_perf
    ).cache()
    cached.append(scored)
    top = scoring.top_candidates(scored)
    transformed = transforms.with_transforms(top)
    scripts = transforms.partition_scripts(transformed, views)

    result = {
        "query_logs": logs,
        "views": views,
        "mined_logs": mined_logs,
        "candidates": candidates,
        "profiles": profiled,
        "usage": usage,
        "column_performance": col_perf,
        "table_performance": tab_perf,
        "resource_scores": resource,
        "classified_queries": classified,
        "column_scores": scored,
        "top_candidates": top,
        "recommendations": scripts,
    }
    return Analysis(result, cached)


def recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship result: one recommendation row per catalog view.

    profile_percentiles=False: the scoring + transform policy reads only
    distinct_count / value_range / granularity from the profiles, so the
    recommendation path skips the percentile aggregates entirely."""
    return run_analysis(spark, sf_dir, profile_percentiles=False)[
        "recommendations"
    ]
