"""Workload scoring: resource metrics, usage rollups, partition scores.

Parity targets in the reference:
  * resource-score normalization (40/30/15/15)  src/partitioning.py:123-168 (A3)
  * per-table / per-column exec-time rollup     src/partitioning.py:170-203 (A4/J3)
  * weighted column-usage frequency             src/partitioning.py:68-100  (A1)
  * interactive/batch query classification      src/partitioning.py:205-238
  * composite partition score + bands           src/partitioning.py:294-325 (A8)
  * per-view top-N                              src/partitioning.py:414-415 (O1)

Everything is DataFrame algebra: the four per-metric maxima are ONE
global aggregation crossJoin'ed back (a 1-row broadcast, not a window
over a single partition — at 100 TB a `Window.partitionBy()` with no keys
would funnel the whole table through one task). The usage/cardinality/
perf lookups the reference does as Python dict probes become broadcast
joins on small dimension-sized stats tables.

Per SURVEY §8.7 the reference mixes table-name mentions into the *column*
frequency table; we keep each signal in its own `source` column and union
them, so the combined number matches the reference's intent while staying
separable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .mining import mine_view_ddl, mined_tables

# composite resource-score weights (reference src/partitioning.py:159-164)
RESOURCE_WEIGHTS = {
    "execution_time_ms": 40.0,
    "cpu_time_ms": 30.0,
    "input_bytes": 15.0,
    "peak_memory_bytes": 15.0,
}

INTERACTIVE_LATENCY_MS = 10_000  # src/partitioning.py:229
INTERACTIVE_PRIORITY = 2.0  # src/partitioning.py:235
BATCH_PRIORITY = 1.0
TOP_N = 3  # src/config.py:16
PERF_POINT_CAP = 50.0  # src/partitioning.py:323


def resource_scores(logs_df: DataFrame) -> DataFrame:
    """0-100 composite resource score per query (A3).

    score = exec/max*40 + cpu/max*30 + input/max*15 + mem/max*15 with
    NULL metrics contributing 0 (the reference's `is not None` guards,
    src/partitioning.py:154-156).
    """
    metrics = list(RESOURCE_WEIGHTS)
    maxes = logs_df.agg(
        *[F.max(m).alias(f"max_{m}") for m in metrics]
    )
    scored = logs_df.crossJoin(F.broadcast(maxes))
    expr = F.lit(0.0)
    for m, w in RESOURCE_WEIGHTS.items():
        expr = expr + F.when(
            F.col(m).isNotNull() & (F.col(f"max_{m}") > 0),
            F.col(m).cast("double") / F.col(f"max_{m}") * F.lit(w),
        ).otherwise(F.lit(0.0))
    return scored.withColumn("resource_score", expr).drop(
        *[f"max_{m}" for m in metrics]
    )


def _limit_in_text() -> Column:
    """The reference's LIMIT test: "LIMIT" in the upper-cased query."""
    return F.upper(F.col("query")).contains("LIMIT")


def interactive_rule(has_limit: Column | None = None) -> Column:
    """The reference's interactive rule (src/partitioning.py:223-229):
    execution_time_ms under 10 s (NULL counts as not under) OR a LIMIT.
    ``has_limit`` defaults to the reference's text check."""
    if has_limit is None:
        has_limit = _limit_in_text()
    return (
        F.coalesce(
            F.col("execution_time_ms") < INTERACTIVE_LATENCY_MS, F.lit(False)
        )
        | has_limit
    )


def classify_queries(logs_df: DataFrame, mined_df: DataFrame | None = None) -> DataFrame:
    """Interactive vs batch classification (reference src/partitioning.py:205-238).

    interactive := execution_time_ms < 10s OR the query has a LIMIT.
    The reference greps the raw text for "LIMIT" (F2); we use the miner's
    limit_marker when mined rows are supplied, else the same text check.
    """
    if mined_df is not None:
        limits = (
            mined_df.where(F.col("kind") == "limit_marker")
            .select("query_id")
            .distinct()
            .withColumn("has_limit", F.lit(True))
        )
        df = logs_df.join(F.broadcast(limits), "query_id", "left").withColumn(
            "has_limit", F.coalesce("has_limit", F.lit(False))
        )
    else:
        df = logs_df.withColumn("has_limit", _limit_in_text())
    interactive = interactive_rule(F.col("has_limit"))
    return df.withColumns(
        {
            "is_interactive": interactive,
            "partition_priority": F.when(
                interactive, F.lit(INTERACTIVE_PRIORITY)
            ).otherwise(F.lit(BATCH_PRIORITY)),
        }
    )


def table_performance(logs_df: DataFrame, mined_df: DataFrame) -> DataFrame:
    """Per-table exec-time rollup (A4): sum exec ms + query count for every
    table referenced by each logged query (J3 as a real join, not a dict)."""
    per_table = mined_tables(mined_df)
    return (
        logs_df.select("query_id", "execution_time_ms")
        .join(per_table, "query_id")
        .groupBy("table")
        .agg(
            F.sum("execution_time_ms").alias("execution_time_ms"),
            F.count_distinct("query_id").alias("query_count"),
        )
    )


def column_performance(logs_df: DataFrame, mined_df: DataFrame) -> DataFrame:
    """Per-column weighted exec-time: every join/where column occurrence
    attributes the query's exec time x occurrence count (A4 column part,
    reference src/partitioning.py:195-199)."""
    cols = mined_df.where(F.col("kind").isin("join_column", "where_column"))
    return (
        logs_df.select("query_id", "execution_time_ms")
        .join(cols, "query_id")
        .groupBy(F.col("name").alias("column"))
        .agg(
            F.sum(F.col("execution_time_ms") * F.col("cnt")).alias(
                "col_execution_time_ms"
            )
        )
    )


def log_usage_legs(mined_logs_df: DataFrame) -> DataFrame:
    """The two log-derived usage signals (A1) as (name, source,
    weighted_frequency): join-column occurrences (log_join_column) and
    table names (log_table_mention) mined from the log."""
    legs = [
        mined_logs_df.where(F.col("kind") == kind)
        .groupBy("name")
        .agg(F.sum("cnt").alias("weighted_frequency"))
        .select("name", F.lit(source).alias("source"), "weighted_frequency")
        for kind, source in (
            ("join_column", "log_join_column"),
            ("table", "log_table_mention"),
        )
    ]
    return legs[0].unionByName(legs[1])


def weighted_column_usage(
    view_columns_df: DataFrame,
    views_df: DataFrame,
    mined_logs_df: DataFrame,
) -> DataFrame:
    """Global usage stats (A1): (name, source, weighted_frequency).

    Four signals, kept separable (§8.7 fix) then union'd:
      view_usage        — each view column counted query_count times
      ddl_join_column   — join columns parsed from each MV's DDL
                          (reference src/partitioning.py:82-86: one count
                          per ON-clause occurrence, NOT ×query_count)
      log_join_column   — join-column occurrences mined from the log
      log_table_mention — table names mined from the log
    """
    mined_ddl = mine_view_ddl(views_df)

    view_usage = (
        view_columns_df.join(
            views_df.select(
                F.concat_ws(
                    ".", "table_schema", "table_name"
                ).alias("view"),
                "query_count",
            ),
            "view",
        )
        .groupBy(F.col("column").alias("name"))
        .agg(F.sum("query_count").alias("weighted_frequency"))
        .withColumn("source", F.lit("view_usage"))
    )
    ddl_joins = (
        mined_ddl.where(F.col("kind") == "join_column")
        .groupBy(F.col("name"))
        .agg(F.sum("cnt").alias("weighted_frequency"))
        .withColumn("source", F.lit("ddl_join_column"))
    )
    return (
        view_usage.unionByName(ddl_joins)
        .unionByName(log_usage_legs(mined_logs_df))
        .select("name", "source", "weighted_frequency")
    )


def drift_usage(
    mined_df: DataFrame, logs_df: DataFrame, cutoff: str,
    keys: list[str | Column],
) -> DataFrame:
    """Early/late usage drift: the join/where-column mentions of
    ``mined_df`` (empty names dropped), attached to each logged query's
    create_time and summed per ``keys`` into n_early (before ``cutoff``)
    and n_late (at or after it). The log-attach join is unhinted: the
    log grows without bound over time, so AQE decides any broadcast at
    runtime from the real size. Counts are additive, so summing the
    increments of any slicing of the log gives the whole-log result."""
    mentions = mined_df.where(
        F.col("kind").isin("join_column", "where_column")
        & (F.col("name") != "")
    )
    cut = F.lit(cutoff).cast("timestamp")
    return (
        mentions.join(logs_df.select("query_id", "create_time"), "query_id")
        .groupBy(*keys)
        .agg(
            F.sum(F.when(F.col("create_time") < cut, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_early"),
            F.sum(F.when(F.col("create_time") >= cut, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_late"),
        )
    )


def combined_usage(usage_df: DataFrame) -> DataFrame:
    """Reference-equivalent single frequency table (sums all sources)."""
    return usage_df.groupBy("name").agg(
        F.sum("weighted_frequency").alias("weighted_frequency")
    )


def cardinality_band_bonus(card) -> F.Column:
    """Score bonus bands (reference src/partitioning.py:309-318):
    <10→+5, <100→+10, <1000→+8, <10000→+5, else +1."""
    return (
        F.when(card < 10, F.lit(5.0))
        .when(card < 100, F.lit(10.0))
        .when(card < 1000, F.lit(8.0))
        .when(card < 10000, F.lit(5.0))
        .otherwise(F.lit(1.0))
    )


def partition_scores(
    candidates_df: DataFrame,
    usage_df: DataFrame,
    profiles_df: DataFrame,
    column_perf_df: DataFrame,
) -> DataFrame:
    """Composite partition score per (view, column) (A8).

    score = weighted_frequency * 1.0
          + cardinality band bonus
          + min(col_execution_time_ms / 1000, 50)

    All lookups are broadcast left-joins on dimension-sized stats frames
    (the reference probes Python dicts, src/partitioning.py:294-325).
    """
    usage = combined_usage(usage_df).withColumnRenamed("name", "column")
    profiles = profiles_df.select(
        "table", "column", "data_type", "distinct_count", "value_range",
        "granularity", "skew_ratio", "density",
    )
    scored = (
        candidates_df
        .join(F.broadcast(usage), "column", "left")
        .join(profiles, ["table", "column"], "left")
        .join(F.broadcast(column_perf_df), "column", "left")
        .withColumns(
            {
                "weighted_frequency": F.coalesce(
                    "weighted_frequency", F.lit(0)
                ),
                "col_execution_time_ms": F.coalesce(
                    "col_execution_time_ms", F.lit(0)
                ),
            }
        )
    )
    return scored.withColumn(
        "score",
        F.col("weighted_frequency") * 1.0
        + cardinality_band_bonus(F.col("distinct_count"))
        + F.least(
            F.col("col_execution_time_ms") / 1000.0, F.lit(PERF_POINT_CAP)
        ),
    )


def top_candidates(scored_df: DataFrame, top_n: int = TOP_N) -> DataFrame:
    """Per-view top-N positive-score columns (O1) as a ranking window."""
    w = Window.partitionBy("view").orderBy(
        F.col("score").desc(), F.col("column")
    )
    return (
        scored_df.where(F.col("score") > 0)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
    )
