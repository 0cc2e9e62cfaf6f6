"""Advisor-pipeline queries: the analytics the reference tool ITSELF
computes (SURVEY.md §2 layer 1), driven by the deterministic fixtures in
sources/fixtures.py so every stage is DuckDB-checkable.

The oracle SQL reproduces the fixture rows via a VALUES CTE rendered from
the SAME Python literals the Spark side reads — one source of truth.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import scoring, stats, transforms
from ..sources import fixtures, tables
from .registry import register

_LOGS_CTE = fixtures.query_logs_values_cte()
_VIEWS_CTE = fixtures.catalog_views_values_cte()
_VIEW_COLS_CTE = fixtures.view_columns_values_cte()

# tables the mention-rollup greps the log for (matches fixture workload)
_MENTION_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
)


# A3 resource score in SQL: each metric over its log-wide max, weighted
# by scoring.RESOURCE_WEIGHTS (40/30/15/15), NULL contributing 0
_MAXES_SQL = ", ".join(
    f"MAX({c}) AS max_{c}" for c in scoring.RESOURCE_WEIGHTS
)
_SCORE_SQL = " + ".join(
    f"COALESCE(CAST({c} AS DOUBLE) / max_{c} * {w:g}, 0)"
    for c, w in scoring.RESOURCE_WEIGHTS.items()
)
_RESOURCE_CTES = f"""{_LOGS_CTE},
    m AS (SELECT {_MAXES_SQL} FROM query_logs),
    resource AS (SELECT query_id, {_SCORE_SQL} AS score FROM query_logs, m)"""


# ---------------------------------------------------------------------------
# A3 — composite resource score, 40/30/15/15 max-normalized
# ---------------------------------------------------------------------------
@register(
    "resource_scores",
    memo=True,
    oracle=f"""
    WITH {_RESOURCE_CTES}
    SELECT query_id, ROUND(score, 4) AS resource_score FROM resource
    """,
)
def resource_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = fixtures.query_logs_df(spark)
    return scoring.resource_scores(logs).select(
        "query_id", F.round("resource_score", 4).alias("resource_score")
    )


# ---------------------------------------------------------------------------
# O4 — top-5 queries by resource score
# ---------------------------------------------------------------------------
@register(
    "top_resource_queries",
    oracle=f"""
    WITH {_RESOURCE_CTES}
    SELECT query_id, ROUND(score, 4) AS resource_score FROM resource
    ORDER BY resource_score DESC, query_id
    LIMIT 5
    """,
)
def top_resource_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = fixtures.query_logs_df(spark)
    return (
        scoring.resource_scores(logs)
        .select(
            "query_id", F.round("resource_score", 4).alias("resource_score")
        )
        .orderBy(F.col("resource_score").desc(), "query_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Query classification — interactive (<10s or LIMIT) vs batch, F2 parity
# (text-grep form, matching the reference's `"LIMIT" in query.upper()`)
# ---------------------------------------------------------------------------
@register(
    "query_classification",
    oracle=f"""
    WITH {_LOGS_CTE}
    SELECT
      query_id,
      (COALESCE(execution_time_ms < 10000, FALSE)
       OR upper(query) LIKE '%LIMIT%') AS is_interactive,
      CASE WHEN COALESCE(execution_time_ms < 10000, FALSE)
             OR upper(query) LIKE '%LIMIT%'
           THEN 2.0 ELSE 1.0 END AS partition_priority
    FROM query_logs
    """,
)
def query_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = fixtures.query_logs_df(spark)
    interactive = scoring.interactive_rule()
    return logs.select(
        "query_id",
        interactive.alias("is_interactive"),
        F.when(interactive, F.lit(2.0)).otherwise(F.lit(1.0)).alias(
            "partition_priority"
        ),
    )


# ---------------------------------------------------------------------------
# A1 view-usage leg — each view column weighted by the view's query_count
# ---------------------------------------------------------------------------
@register(
    "weighted_view_usage",
    oracle=f"""
    WITH {_VIEWS_CTE},
    {_VIEW_COLS_CTE}
    SELECT
      vc.column_name AS column_name,
      CAST(SUM(cv.query_count) AS BIGINT) AS weighted_frequency
    FROM view_columns vc
    JOIN catalog_views cv
      ON vc.view_name = cv.table_schema || '.' || cv.table_name
    WHERE cv.table_type = 'MATERIALIZED VIEW'
    GROUP BY vc.column_name
    """,
)
def weighted_view_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = fixtures.catalog_views_df(spark).where(
        F.col("table_type") == "MATERIALIZED VIEW"
    )
    vcols = fixtures.view_columns_fixture_df(spark)
    return (
        vcols.join(
            F.broadcast(
                views.select(
                    F.concat_ws(".", "table_schema", "table_name").alias("view"),
                    "query_count",
                )
            ),
            "view",
        )
        .groupBy(F.col("column").alias("column_name"))
        .agg(F.sum("query_count").alias("weighted_frequency"))
    )


# ---------------------------------------------------------------------------
# A4/J3 — per-table exec-time attribution. SQL-expressible form: a table is
# "referenced" when the log text word-matches its name (the miner's
# token-level result is checked separately, rows-only).
# ---------------------------------------------------------------------------
@register(
    "table_exec_rollup",
    memo=True,
    oracle=f"""
    WITH {_LOGS_CTE},
    tabs(table_name) AS (VALUES {", ".join(f"('{t}')" for t in _MENTION_TABLES)})
    SELECT
      table_name,
      CAST(SUM(execution_time_ms) AS BIGINT) AS execution_time_ms,
      COUNT(*) AS query_count
    FROM query_logs, tabs
    WHERE regexp_matches(lower(query), '\\b' || table_name || '\\b')
    GROUP BY table_name
    """,
)
def table_exec_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = fixtures.query_logs_df(spark)
    tabs = F.array(*[F.lit(t) for t in _MENTION_TABLES])
    return (
        logs.select(
            "query_id", "execution_time_ms", F.explode(tabs).alias("table_name"),
            "query",
        )
        .where(
            F.regexp_like(
                F.lower(F.col("query")),
                F.concat(F.lit("\\b"), F.col("table_name"), F.lit("\\b")),
            )
        )
        .groupBy("table_name")
        .agg(
            F.sum("execution_time_ms").alias("execution_time_ms"),
            F.count(F.lit(1)).alias("query_count"),
        )
    )


# ---------------------------------------------------------------------------
# §2.11 — Iceberg transform selection from EXACT per-column stats, the
# full policy as one CASE expression on both sides.
# ---------------------------------------------------------------------------
# Column -> policy kind for every column an oracle runs the transform
# policy on. The kind selects the policy branch at SQL-generation time
# (DuckDB binds every CASE branch, so a runtime typeof() dispatch can't
# mix interval and integer comparisons): date/timestamp → granularity
# probe; str → bucket(16)/identity; int → bucket/truncate/identity;
# other → identity. Schemas are fixed (FIXTURES.md group A);
# tests/test_policy_units.py checks every entry against the parquet
# schemas and that every entry is used.
_COLUMN_KINDS: dict[str, str] = {
    "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
    "o_totalprice": "other", "o_orderdate": "date", "o_orderpriority": "str",
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "other", "l_extendedprice": "other",
    "l_discount": "other", "l_tax": "other", "l_returnflag": "str",
    "l_linestatus": "str", "l_shipdate": "date",
    "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
    "c_acctbal": "other", "c_mktsegment": "str",
    "event_id": "int", "ts": "date", "user_id": "int", "event_type": "str",
    "value": "other", "props": "str",
    "p_partkey": "int", "p_name": "str", "p_brand": "str", "p_type": "str",
    "p_size": "int", "p_retailprice": "other",
    "s_suppkey": "int",
}

# (table, column) pairs transform_selection profiles
_TRANSFORM_COLUMNS = [
    ("orders", "o_orderdate"),
    ("orders", "o_custkey"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
    ("customer", "c_acctbal"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_shipdate"),
    ("lineitem", "l_linenumber"),
    ("events", "ts"),
    ("events", "user_id"),
    ("part", "p_brand"),
    ("supplier", "s_suppkey"),
]


def _transform_leg(table: str, col: str) -> str:
    """The transform policy for one column as a DuckDB scalar subquery;
    the column's kind picks the CASE branch (see _COLUMN_KINDS)."""
    kind = _COLUMN_KINDS[col]
    if kind == "date":
        return f"""(SELECT CASE
          WHEN COUNT(DISTINCT CAST({col} AS DATE)) > 20 * COUNT(DISTINCT date_trunc('month', {col}))
            THEN 'day({col})'
          WHEN COUNT(DISTINCT date_trunc('month', {col})) > 8 * COUNT(DISTINCT year({col}))
            THEN 'month({col})'
          ELSE 'year({col})'
        END FROM {table})"""
    if kind == "str":
        return f"""(SELECT CASE WHEN COUNT(DISTINCT {col}) > 10000
          THEN 'bucket(16, {col})' ELSE '{col}' END FROM {table})"""
    if kind == "int":
        return f"""(SELECT CASE
          WHEN COUNT(DISTINCT {col}) > 1000 THEN
            'bucket(' || CAST(LEAST(GREATEST(CAST(FLOOR(COUNT(DISTINCT {col}) / 500.0) AS INTEGER), 4), 32) AS VARCHAR) || ', {col})'
          WHEN MAX({col}) - MIN({col}) > 10000 THEN 'truncate({col}, 100)'
          ELSE '{col}'
        END FROM {table})"""
    return f"'{col}'"


def _transform_legs(key: str, rows: list[tuple[str, str, str]]) -> str:
    """One (key, column_name, transform) row per (key value, table,
    column) in ``rows``: the reference's §2.11 CASE policy over exact
    per-column stats (varchar bucket>10000→bucket(16); int card>1000→
    bucket(clamp(card/500, 4,32)) else range>10000→truncate(col,100);
    date→granularity probe)."""
    return "\nUNION ALL\n".join(
        f"SELECT '{k}' AS {key}, '{col}' AS column_name,\n"
        f"       {_transform_leg(table, col)} AS transform"
        for k, table, col in rows
    )


@register(
    "transform_selection",
    oracle=_transform_legs(
        "table_name", [(t, t, c) for t, c in _TRANSFORM_COLUMNS]
    ),
    memo=True,
)
def transform_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-stats profile → transform policy, via the SAME production code
    path (stats.column_profiles + transforms.transform_expr)."""
    out: DataFrame | None = None
    by_table: dict[str, list[str]] = {}
    for table, col in _TRANSFORM_COLUMNS:
        by_table.setdefault(table, []).append(col)
    for table, cols in by_table.items():
        df = tables.load_table(spark, sf_dir, table)
        # percentiles=False: the transform policy reads only
        # distinct_count / value_range / granularity, and the exact
        # percentile aggregate is a single-task sort per column.
        prof = stats.with_date_granularity(
            stats.column_profiles(
                df, table, columns=cols, exact=True, percentiles=False
            )
        )
        leg = prof.select(
            F.col("table").alias("table_name"),
            F.col("column").alias("column_name"),
            transforms.transform_expr(
                F.col("column"),
                F.col("data_type"),
                F.col("distinct_count"),
                F.col("value_range"),
                F.col("granularity"),
            ).alias("transform"),
        )
        out = leg if out is None else out.unionByName(leg)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# A8/O1 — composite partition scoring, hash-checked end-to-end.
#
# The miner (the one non-SQL stage) is a PURE function, so its
# deterministic output over the fixture log is rendered as a VALUES CTE
# from the same source of truth the Spark side mines at runtime; the
# oracle then reproduces usage/cardinality/perf joins, the band bonus,
# and the capped perf points entirely in SQL over the real tables.
# ---------------------------------------------------------------------------
def _mined_fixture_rows() -> list[tuple]:
    from ..operators import mining

    rows: list[tuple] = []
    for r in fixtures.QUERY_LOG_ROWS:
        rows.extend(mining._mine_row(r[0], r[1]))
    # limit_marker rows carry name='' — harmless, filtered by kind below
    return rows


_MINED_CTE = fixtures._values_cte(
    "mined", ("query_id", "kind", "name", "cnt"), _mined_fixture_rows()
)


@register(
    "mined_workload",
    oracle="WITH "
    + _MINED_CTE
    + "\nSELECT query_id, kind, name, CAST(cnt AS BIGINT) AS cnt FROM mined",
)
def mined_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level SQL mining of the fixture log (J1/J2 parity).

    The miner is a PURE function, so its deterministic output over the
    fixture log — rendered as a VALUES CTE from the same source of truth
    — is the oracle: the check proves the distributed Arrow/mapInPandas
    path reproduces the driver-side result exactly."""
    from ..operators import recommend

    # session-shared mined frame (operators/recommend.
    # mined_fixture_logs) — the Arrow mining stage runs once per
    # session across the advisor family, not once per query
    return recommend.mined_fixture_logs(spark).select(
        "query_id", "kind", "name", F.col("cnt").cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Workload drift: the "adaptive" in adaptive partitioning over TIME.
# The reference advises from one log snapshot; a deployed advisor re-runs
# on a schedule, and what matters operationally is whether the mined
# column-usage signal has SHIFTED enough to change the layout decision.
# ---------------------------------------------------------------------------
_DRIFT_CUTOFF = "2025-06-01 00:00:00"


def _drift_usage_sql(keys: str) -> str:
    """SQL twin of scoring.drift_usage over the fixture CTEs (mined,
    query_logs): join/where-column mentions summed per ``keys`` into
    n_early / n_late either side of _DRIFT_CUTOFF."""
    cut = f"TIMESTAMP '{_DRIFT_CUTOFF}'"
    return f"""SELECT {keys},
        CAST(SUM(CASE WHEN l.create_time < {cut}
                 THEN m.cnt ELSE 0 END) AS BIGINT) AS n_early,
        CAST(SUM(CASE WHEN l.create_time >= {cut}
                 THEN m.cnt ELSE 0 END) AS BIGINT) AS n_late
      FROM mined m JOIN query_logs l USING (query_id)
      WHERE m.kind IN ('join_column', 'where_column') AND m.name <> ''
      GROUP BY {keys}"""


@register(
    "workload_drift_report",
    memo=True,
    oracle=f"""
    WITH {_LOGS_CTE},
    {_MINED_CTE},
    usage AS ({_drift_usage_sql("m.kind, m.name")}),
    ranked AS (
      SELECT kind, name, n_early, n_late,
        CASE WHEN n_early > 0 THEN ROW_NUMBER() OVER (
          PARTITION BY kind ORDER BY n_early DESC, name) END AS rank_early,
        CASE WHEN n_late > 0 THEN ROW_NUMBER() OVER (
          PARTITION BY kind ORDER BY n_late DESC, name) END AS rank_late
      FROM usage
    )
    SELECT kind, name, n_early, n_late,
      CAST(rank_early AS BIGINT) AS rank_early,
      CAST(rank_late AS BIGINT) AS rank_late,
      CASE WHEN n_early = 0 THEN 'new'
           WHEN n_late = 0 THEN 'dropped'
           WHEN rank_late < rank_early THEN 'risen'
           WHEN rank_late > rank_early THEN 'fallen'
           ELSE 'stable' END AS status
    FROM ranked ORDER BY kind, name
    """,
)
def workload_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mined column-usage drift between two log windows (before/after
    the _DRIFT_CUTOFF date): per (kind, column), early vs late usage
    counts, within-kind ranks, and a status flag (new / dropped /
    risen / fallen / stable). A column whose rank rises into the top
    band is a re-partitioning trigger for the next advisor run — the
    time dimension the reference's one-shot analysis lacks. Ranks only
    count windows where the column actually appears; ordering is
    deterministic (count desc, name)."""
    from pyspark.sql import Window

    from ..operators import recommend

    # session-shared mined frame (see mined_workload); the log-attach
    # join forces no broadcast (plan pinned by tests/test_scale_plans.py)
    usage = scoring.drift_usage(
        recommend.mined_fixture_logs(spark), fixtures.query_logs_df(spark),
        _DRIFT_CUTOFF, ["kind", "name"],
    )
    w_early = Window.partitionBy("kind").orderBy(
        F.col("n_early").desc(), "name"
    )
    w_late = Window.partitionBy("kind").orderBy(F.col("n_late").desc(), "name")
    ranked = usage.select(
        "kind",
        "name",
        "n_early",
        "n_late",
        F.when(F.col("n_early") > 0, F.row_number().over(w_early))
        .cast("bigint")
        .alias("rank_early"),
        F.when(F.col("n_late") > 0, F.row_number().over(w_late))
        .cast("bigint")
        .alias("rank_late"),
    )
    status = (
        F.when(F.col("n_early") == 0, F.lit("new"))
        .when(F.col("n_late") == 0, F.lit("dropped"))
        .when(F.col("rank_late") < F.col("rank_early"), F.lit("risen"))
        .when(F.col("rank_late") > F.col("rank_early"), F.lit("fallen"))
        .otherwise(F.lit("stable"))
    )
    return ranked.withColumn("status", status).orderBy("kind", "name")


def _parity_sf_dir() -> str:
    import os

    return os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _exact_ndv_sql(wanted: set[str]) -> str:
    """SQL twin of _exact_ndv: one (table_name, column_name, ndv,
    table_rows) leg per table column in ``wanted``, resolved at
    registration against the parquet footer schemas (identical across
    scale dirs, so unlike footer COUNTS this resolution is
    scale-independent)."""
    import pyarrow.parquet as pq

    sf = _parity_sf_dir()
    return "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS table_name, '{c}' AS column_name,"
        f" COUNT(DISTINCT {c}) AS ndv, COUNT(*) AS table_rows FROM {t}"
        for t in tables.TABLES
        for c in sorted(pq.read_schema(f"{sf}/{t}.parquet").names)
        if c in wanted
    )


def _exact_ndv(
    spark: SparkSession, sf_dir: str, wanted: set[str]
) -> DataFrame:
    """Exact NDV of every ``wanted`` column in each table whose schema
    holds it, as (table_name, column_name, ndv, table_rows): one
    aggregation per table over only those columns. When no wanted
    column resolves to any table, an empty frame of that schema."""
    frames = []
    for t in tables.TABLES:
        cols = [
            c for c in tables.table_columns(spark, sf_dir, t) if c in wanted
        ]
        if not cols:
            continue
        agg = tables.load_table(spark, sf_dir, t).agg(
            F.count(F.lit(1)).alias("__rows"),
            *[F.count_distinct(F.col(c)).alias(c) for c in cols],
        )
        frames.append(
            agg.selectExpr(
                f"stack({len(cols)}, "
                + ", ".join(f"'{c}', {c}" for c in cols)
                + ") AS (column_name, ndv)",
                "__rows AS table_rows",
            ).select(
                F.lit(t).alias("table_name"), "column_name", "ndv",
                "table_rows",
            )
        )
    if not frames:
        return spark.createDataFrame(
            [],
            "table_name string, column_name string, ndv long, table_rows long",
        )
    return functools.reduce(DataFrame.unionByName, frames)


def _bucket_advice_oracle() -> str:
    """The mined fixture's join columns (pure miner output) with their
    exact per-table NDV and advised bucket tier."""
    from ..operators import sizing

    join_cols = {
        name
        for (_qid, kind, name, _cnt) in _mined_fixture_rows()
        if kind == "join_column" and name
    }
    return f"""
    WITH {_MINED_CTE},
    freq AS (
      SELECT name AS column_name, CAST(SUM(cnt) AS BIGINT) AS join_freq
      FROM mined WHERE kind = 'join_column' AND name <> ''
      GROUP BY name
    ),
    ndv AS (
      {_exact_ndv_sql(join_cols)}
    )
    SELECT n.table_name, f.column_name, f.join_freq,
           CAST(n.ndv AS BIGINT) AS ndv,
           {sizing.bucket_tier_sql("n.ndv")} AS advised_buckets
    FROM freq f JOIN ndv n USING (column_name)
    ORDER BY table_name, column_name
    """


@register("bucket_join_advice", memo=True, oracle=_bucket_advice_oracle())
def bucket_join_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located-join bucketing advice: every join column the miner
    finds in the workload, resolved to its owning table(s) by footer
    schema, profiled for exact NDV, and assigned an NDV-tiered bucket
    count (operators/sizing.JOIN_BUCKET_TIERS). Writing both sides of a
    frequent equi-join bucketed by the advised counts removes the join
    shuffle entirely — the Spark-native layout lever beside the
    reference's partition transforms (its Trino/Iceberg analog is the
    bucket(n) transform, src/partitioning.py). The per-pair NDV probe is
    one aggregation per table over only the mined columns."""
    from ..operators import recommend, sizing

    # session-shared mined frame (see mined_workload)
    mined = recommend.mined_fixture_logs(spark).where(
        (F.col("kind") == "join_column") & (F.col("name") != "")
    )
    freq = mined.groupBy(F.col("name").alias("column_name")).agg(
        F.sum("cnt").cast("bigint").alias("join_freq")
    )
    mined_cols = {r["column_name"] for r in freq.collect()}  # dimension-sized
    ndvs = _exact_ndv(spark, sf_dir, mined_cols)
    return (
        freq.join(ndvs, "column_name")
        .select(
            "table_name",
            "column_name",
            "join_freq",
            F.col("ndv").cast("bigint").alias("ndv"),
            sizing.bucket_tier_col(F.col("ndv")).alias("advised_buckets"),
        )
        .orderBy("table_name", "column_name")
    )


def _rollup_advice_oracle() -> str:
    """The pure miner's GROUP BY columns over the fixture log with their
    exact per-table NDV, table rows and rollup fraction."""
    gb = _mined_groupby_fixture_counts()
    cols_cte = "groupcols(column_name, groupby_freq) AS (VALUES " + ", ".join(
        f"('{c}', {n})" for c, n in sorted(gb.items())
    ) + ")"
    return f"""
    WITH {cols_cte},
    ndv AS (
      {_exact_ndv_sql(set(gb))}
    )
    SELECT n.table_name, g.column_name,
           CAST(g.groupby_freq AS BIGINT) AS groupby_freq,
           CAST(n.ndv AS BIGINT) AS ndv,
           CAST(n.table_rows AS BIGINT) AS table_rows,
           ROUND(n.ndv / CAST(n.table_rows AS DOUBLE), 6)
             AS est_rollup_fraction
    FROM groupcols g JOIN ndv n USING (column_name)
    ORDER BY n.table_name, g.column_name
    """


def _mined_groupby_fixture_counts() -> dict[str, int]:
    from collections import Counter

    from ..operators import mining

    total: Counter = Counter()
    for r in fixtures.QUERY_LOG_ROWS:
        total += mining.mine_group_columns(r[1])
    return dict(total)


@register("rollup_advice", memo=True, oracle=_rollup_advice_oracle())
def rollup_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-aware layout advice: every column the workload GROUPs
    BY (operators/mining.mine_group_columns), resolved to its owning
    table(s), with exact NDV, table rows, and the rollup's size as a
    fraction of the base table — the numbers that decide whether to
    precompute a per-column rollup (a tiny fraction means a cheap
    always-fresh aggregate; near 1.0 means the rollup buys nothing).
    The reference advises partition layouts only; this extends the same
    mined-workload evidence to aggregate materialization."""
    from ..operators import mining, rowmap

    logs = fixtures.query_logs_df(spark)

    # mine GROUP BY columns distributed (the same row stage as
    # mine_query_log), then roll up per column
    mined = (
        rowmap.map_rows(
            logs.select("query"),
            T.StructType(
                [
                    T.StructField("column_name", T.StringType()),
                    T.StructField("cnt", T.LongType()),
                ]
            ),
            lambda sql: mining.mine_group_columns(sql).items(),
        )
        .groupBy("column_name")
        .agg(F.sum("cnt").cast("bigint").alias("groupby_freq"))
    )
    mined_cols = {r["column_name"] for r in mined.collect()}  # dim-sized
    ndvs = _exact_ndv(spark, sf_dir, mined_cols)
    return (
        mined.join(ndvs, "column_name")
        .select(
            "table_name",
            "column_name",
            "groupby_freq",
            F.col("ndv").cast("bigint").alias("ndv"),
            F.col("table_rows").cast("bigint").alias("table_rows"),
            F.round(
                F.col("ndv") / F.col("table_rows").cast("double"), 6
            ).alias("est_rollup_fraction"),
        )
        .orderBy("table_name", "column_name")
    )


def _mined_ddl_fixture_rows() -> list[tuple]:
    """mine_view_ddl's deterministic output over the MV fixture DDLs
    (the ddl_join_column usage signal, reference src/partitioning.py:82-86)."""
    from ..operators import mining

    rows: list[tuple] = []
    for cat, schema, name, ttype, ddl, qc in fixtures.CATALOG_VIEW_ROWS:
        if ttype == "MATERIALIZED VIEW":
            rows.extend(mining._mine_row(f"{schema}.{name}", ddl))
    return rows


_MINED_DDL_CTE = fixtures._values_cte(
    "mined_ddl", ("view_name", "kind", "name", "cnt"), _mined_ddl_fixture_rows()
)


def _ndv_legs() -> str:
    legs = []
    for view, col in fixtures.VIEW_COLUMN_ROWS:
        table = view.split(".")[1]
        legs.append(
            f"SELECT '{view}' AS view_name, '{col}' AS column_name,\n"
            f"       COUNT(DISTINCT {col}) AS distinct_count FROM {table}"
        )
    return "\nUNION ALL\n".join(legs)


def _scored_sql(time_pred: str | None = None) -> str:
    """Composite-score SQL over the fixture workload. `time_pred`
    (optional, e.g. "l.create_time < TIMESTAMP '2025-06-01 00:00:00'")
    windows the LOG-DERIVED signals — mined join/table usage and
    per-column execution attribution — to the logs satisfying it,
    exactly like run_analysis(time_filter=...): the mined fixture is
    query_id-keyed, so windowing is a semi-join against the filtered
    log. Catalog-derived usage (view query counts) and table NDV are
    not log signals and stay unwindowed on both engines."""
    if time_pred:
        mined_leg = (
            "SELECT m.name, CAST(SUM(m.cnt) AS BIGINT)\n"
            "        FROM mined m JOIN query_logs l USING (query_id)\n"
            f"        WHERE m.kind = '{{kind}}' AND {time_pred}"
            " GROUP BY m.name"
        )
        colperf_pred = f" AND {time_pred}"
    else:
        mined_leg = (
            "SELECT name, CAST(SUM(cnt) AS BIGINT)\n"
            "        FROM mined WHERE kind = '{kind}' GROUP BY name"
        )
        colperf_pred = ""
    return f"""
    WITH {_LOGS_CTE},
    {_VIEWS_CTE},
    {_VIEW_COLS_CTE},
    {_MINED_CTE},
    {_MINED_DDL_CTE},
    usage_all AS (
      SELECT name, CAST(SUM(wf) AS BIGINT) AS weighted_frequency FROM (
        SELECT vc.column_name AS name,
               CAST(SUM(cv.query_count) AS BIGINT) AS wf
        FROM view_columns vc
        JOIN catalog_views cv
          ON vc.view_name = cv.table_schema || '.' || cv.table_name
        WHERE cv.table_type = 'MATERIALIZED VIEW'
        GROUP BY vc.column_name
        UNION ALL
        SELECT name, CAST(SUM(cnt) AS BIGINT)
        FROM mined_ddl WHERE kind = 'join_column' GROUP BY name
        UNION ALL
        {mined_leg.format(kind="join_column")}
        UNION ALL
        {mined_leg.format(kind="table")}
      ) u GROUP BY name
    ),
    colperf AS (
      SELECT m.name,
             CAST(SUM(l.execution_time_ms * m.cnt) AS BIGINT)
               AS col_execution_time_ms
      FROM mined m JOIN query_logs l USING (query_id)
      WHERE m.kind IN ('join_column', 'where_column'){colperf_pred}
      GROUP BY m.name
    ),
    ndv AS (
      {_ndv_legs()}
    )
    SELECT n.view_name, n.column_name,
      CAST(COALESCE(u.weighted_frequency, 0) AS BIGINT) AS weighted_frequency,
      CAST(n.distinct_count AS BIGINT) AS distinct_count,
      CAST(COALESCE(p.col_execution_time_ms, 0) AS BIGINT)
        AS col_execution_time_ms,
      ROUND(
        COALESCE(u.weighted_frequency, 0) * 1.0
        + CASE WHEN n.distinct_count < 10 THEN 5.0
               WHEN n.distinct_count < 100 THEN 10.0
               WHEN n.distinct_count < 1000 THEN 8.0
               WHEN n.distinct_count < 10000 THEN 5.0
               ELSE 1.0 END
        + LEAST(CAST(COALESCE(p.col_execution_time_ms, 0) AS DOUBLE)
                / 1000.0, 50.0),
      4) AS score
    FROM ndv n
    LEFT JOIN usage_all u ON u.name = n.column_name
    LEFT JOIN colperf p ON p.name = n.column_name
    """


def _top3_sql(scored: str) -> str:
    """O1 in SQL: the per-view top-3 positive-score candidates of the
    relation ``scored``, ranked by score, then column name."""
    return f"""SELECT view_name, column_name, score, candidate_rank FROM (
        SELECT view_name, column_name, score,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY view_name ORDER BY score DESC, column_name
               ) AS BIGINT) AS candidate_rank
        FROM {scored} WHERE score > 0
      ) r WHERE candidate_rank <= 3"""


def _scored_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import recommend

    # percentiles skipped: scoring/transform policy reads only
    # distinct_count, value_range and granularity
    res = recommend.run_analysis(
        spark, sf_dir, exact_stats=True, profile_percentiles=False
    )
    return res["column_scores"].select(
        F.col("view").alias("view_name"),
        F.col("column").alias("column_name"),
        F.col("weighted_frequency").cast("bigint").alias("weighted_frequency"),
        F.col("distinct_count").cast("bigint").alias("distinct_count"),
        F.col("col_execution_time_ms").cast("bigint").alias(
            "col_execution_time_ms"
        ),
        F.round("score", 4).alias("score"),
    )


@register("partition_scores_exact", oracle=_scored_sql(), memo=True)
def partition_scores_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 composite scores for every candidate, via the production
    pipeline (run_analysis with exact stats) — hash-checked."""
    return _scored_spark(spark, sf_dir)


@register(
    "top_partition_candidates",
    memo=True,
    oracle=f"WITH scored AS ({_scored_sql()})\n{_top3_sql('scored')}",
)
def top_partition_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 per-view top-3 positive-score candidates — hash-checked."""
    from pyspark.sql.window import Window

    scored = _scored_spark(spark, sf_dir)
    w = Window.partitionBy("view_name").orderBy(
        F.col("score").desc(), "column_name"
    )
    return (
        scored.where(F.col("score") > 0)
        .withColumn("candidate_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("candidate_rank") <= 3)
        .select("view_name", "column_name", "score", "candidate_rank")
    )


# ---------------------------------------------------------------------------
# §2.11/F7 — final DDL assembly, hash-checked. Transform policy legs are
# generated per candidate column from _COLUMN_KINDS; the script is compared
# without its score-header line because Java's %.1f (HALF_UP) and C
# printf (half-even) can legitimately differ at x.x5 — total_score is
# compared separately at 4 digits instead.
# ---------------------------------------------------------------------------
# The exact flagship's recommendation in SQL, as CTEs: scored, top3,
# keyed (each top-3 key with its transform) and recs (keys and
# transforms aggregated per view in rank order)
_RECS_CTES = f"""scored AS ({_scored_sql()}),
    top3 AS ({_top3_sql("scored")}),
    keyed AS (
      SELECT t.*, tr.transform FROM top3 t
      JOIN ({_transform_legs("view_name", [
          (v, v.split(".")[1], c) for v, c in fixtures.VIEW_COLUMN_ROWS
      ])}) tr
        ON t.view_name = tr.view_name AND t.column_name = tr.column_name
    ),
    recs AS (
      SELECT view_name,
        string_agg(column_name, ', ' ORDER BY candidate_rank)
          AS partition_keys_csv,
        string_agg(transform, ', ' ORDER BY candidate_rank) AS transforms_csv,
        ROUND(SUM(score), 4) AS total_score
      FROM keyed GROUP BY view_name
    )"""


@register(
    "partition_recommendations_exact",
    memo=True,
    oracle=f"""
    WITH {_RECS_CTES}
    SELECT view_name, partition_keys_csv, transforms_csv, total_score,
      'ALTER TABLE ' || view_name || ' REPLACE PARTITION SPEC ('
        || transforms_csv || ');' AS alter_ddl
    FROM recs
    """,
)
def partition_recommendations_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's final output (exact-stats variant),
    hash-checked: keys, transforms, total score, and the ALTER line of
    the generated script (header stripped — see note above)."""
    from ..operators import recommend

    res = recommend.run_analysis(
        spark, sf_dir, exact_stats=True, profile_percentiles=False
    )
    recs = res["recommendations"]
    return recs.where(F.size("partition_keys") > 0).select(
        F.col("view").alias("view_name"),
        F.array_join("partition_keys", ", ").alias("partition_keys_csv"),
        F.array_join("transforms", ", ").alias("transforms_csv"),
        F.round("total_score", 4).alias("total_score"),
        F.substring_index("script", "\n", -1).alias("alter_ddl"),
    )


_STRIP_BUCKET_RE = r"bucket\(\d+, "
_STRIP_BUCKET_SQL = (
    f"REGEXP_REPLACE(transform, '{_STRIP_BUCKET_RE}', 'bucket(', 'g')"
)


@register(
    "partition_recommendations",
    memo=True,
    oracle=f"""
    WITH {_RECS_CTES}
    SELECT view_name,
      string_agg(column_name, ', ' ORDER BY column_name) AS partition_keys_csv,
      string_agg({_STRIP_BUCKET_SQL}, ', ' ORDER BY {_STRIP_BUCKET_SQL})
        AS transform_kinds_csv
    FROM keyed GROUP BY view_name
    """,
)
def partition_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end pipeline at the given scale factor, run
    with its production approx (HLL) statistics.

    Checked at DECISION level: the oracle recomputes the pipeline with
    exact stats in SQL, and both sides canonicalize to the
    order-insensitive decision — the sorted set of recommended partition
    keys plus the sorted set of transform KINDS with bucket counts
    stripped. Scores, ranked key order, and bucket counts legitimately
    wiggle with NDV estimation error (that exactness is what
    partition_scores_exact / partition_recommendations_exact pin down);
    a green row here proves the approx pipeline lands the same
    partitioning decision as the exact one."""
    from ..operators import recommend

    rec = recommend.recommendations(spark, sf_dir)
    kinds = F.transform(
        "transforms",
        lambda c: F.regexp_replace(c, _STRIP_BUCKET_RE, "bucket("),
    )
    return rec.where(F.size("partition_keys") > 0).select(
        F.col("view").alias("view_name"),
        F.array_join(F.array_sort("partition_keys"), ", ").alias(
            "partition_keys_csv"
        ),
        F.array_join(F.array_sort(kinds), ", ").alias("transform_kinds_csv"),
    )


# ---------------------------------------------------------------------------
# The adaptive loop, closed: drift -> layout-change advice. The
# reference scores one log snapshot (src/partitioning.py:294-325); a
# deployed advisor re-runs on a schedule, so the operational question is
# which CURRENT partition keys the drifted workload says to revisit.
# Joins the per-column usage drift (early vs late log window, summed
# over join/where mention kinds) against the exact-stats recommended
# partition keys and emits a per-(view, column) trigger:
#   re-partition  — a non-key column whose usage is new or rising
#   re-evaluate   — a current key whose usage dropped or fell
#   keep          — a current key whose usage is steady or rising
#   no-action     — a non-key column with no actionable drift
# ---------------------------------------------------------------------------
_DRIFT_TRIGGERS_ORACLE = f"""
    WITH scored AS ({_scored_sql()}),
    keys AS ({_top3_sql("scored")}),
    {_LOGS_CTE},
    {_MINED_CTE},
    {_VIEW_COLS_CTE},
    usage AS ({_drift_usage_sql("m.name")}),
    status AS (
      SELECT name AS column_name, n_early, n_late,
        CASE WHEN n_early = 0 THEN 'new'
             WHEN n_late = 0 THEN 'dropped'
             WHEN n_late > n_early THEN 'risen'
             WHEN n_late < n_early THEN 'fallen'
             ELSE 'stable' END AS usage_status
      FROM usage
    )
    SELECT vc.view_name, vc.column_name,
      (k.column_name IS NOT NULL) AS is_current_key,
      s.n_early, s.n_late, s.usage_status,
      CASE WHEN k.column_name IS NOT NULL
                AND s.usage_status IN ('dropped', 'fallen')
             THEN 're-evaluate'
           WHEN k.column_name IS NULL
                AND s.usage_status IN ('new', 'risen')
             THEN 're-partition'
           WHEN k.column_name IS NOT NULL THEN 'keep'
           ELSE 'no-action' END AS trigger_action
    FROM view_columns vc
    JOIN status s ON vc.column_name = s.column_name
    LEFT JOIN keys k
      ON vc.view_name = k.view_name AND vc.column_name = k.column_name
    ORDER BY vc.view_name, vc.column_name
    """


def drift_triggers_from_usage(
    spark: SparkSession, sf_dir: str, usage: DataFrame
) -> DataFrame:
    """Trigger logic shared by the batch drift query and its streaming
    increment-store twin (queries/streaming_q.streaming_drift_triggers):
    given per-column (column_name, n_early, n_late) usage counts —
    however they were accumulated — classify the drift and join against
    the CURRENT exact-stats partition keys to emit per-(view, column)
    re-partitioning triggers. Counts are additive, so a foreachBatch
    store that sums per-micro-batch increments feeds this identically
    to the one-shot batch aggregation."""
    from ..operators import recommend

    status = usage.withColumn(
        "usage_status",
        F.when(F.col("n_early") == 0, F.lit("new"))
        .when(F.col("n_late") == 0, F.lit("dropped"))
        .when(F.col("n_late") > F.col("n_early"), F.lit("risen"))
        .when(F.col("n_late") < F.col("n_early"), F.lit("fallen"))
        .otherwise(F.lit("stable")),
    )
    res = recommend.run_analysis(
        spark, sf_dir, exact_stats=True, profile_percentiles=False
    )
    keys = (
        res["recommendations"]
        .select(
            F.col("view").alias("view_name"),
            F.explode("partition_keys").alias("column_name"),
        )
        .withColumn("is_key", F.lit(True))
    )
    vcols = fixtures.view_columns_fixture_df(spark).select(
        F.col("view").alias("view_name"),
        F.col("column").alias("column_name"),
    )
    joined = (
        vcols.join(status, "column_name")
        .join(keys, ["view_name", "column_name"], "left")
        .withColumn("is_current_key", F.coalesce("is_key", F.lit(False)))
    )
    trigger = (
        F.when(
            F.col("is_current_key")
            & F.col("usage_status").isin("dropped", "fallen"),
            F.lit("re-evaluate"),
        )
        .when(
            ~F.col("is_current_key")
            & F.col("usage_status").isin("new", "risen"),
            F.lit("re-partition"),
        )
        .when(F.col("is_current_key"), F.lit("keep"))
        .otherwise(F.lit("no-action"))
    )
    return joined.select(
        "view_name",
        "column_name",
        "is_current_key",
        "n_early",
        "n_late",
        "usage_status",
        trigger.alias("trigger_action"),
    ).orderBy("view_name", "column_name")


@register(
    "partition_recommendation_drift",
    memo=True,
    oracle=_DRIFT_TRIGGERS_ORACLE,
)
def partition_recommendation_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(view, column) re-partitioning triggers from workload drift:
    the drift report's usage shift joined against the CURRENT exact-stats
    partition keys (the adaptive loop the reference runs manually by
    re-invoking its one-shot analysis, src/partitioning.py:294-325).
    Scale shape: the mined-usage aggregation is the drift report's
    (log-sized, map-side combined); the key frame is advisor-output-sized
    (tiny); the candidate frame is catalog-sized — every join is an
    equi-join with no forced broadcasts. The classify+join tail lives
    in drift_triggers_from_usage, shared with the streaming
    increment-store twin (streaming_drift_triggers)."""
    from ..operators import recommend

    # session-shared mined frame (see mined_workload)
    usage = scoring.drift_usage(
        recommend.mined_fixture_logs(spark), fixtures.query_logs_df(spark),
        _DRIFT_CUTOFF, [F.col("name").alias("column_name")],
    )
    return drift_triggers_from_usage(spark, sf_dir, usage)


# ---------------------------------------------------------------------------
# S7 (spec evolution) — the reference reads only the CURRENT partition
# spec from Iceberg's $metadata tables (src/trino_client.py:95-107); a
# deployed advisor re-runs on a growing log, leaving a spec-per-run
# history — the metadata-log analog of Iceberg's metadata_log_entries.
# Synthesized here from three cumulative as-of runs of the SAME
# recommendation pipeline over the fixture log's natural month windows.
# ---------------------------------------------------------------------------
_SPEC_HISTORY_GENS: list[str | None] = [
    "2025-06-01 00:00:00",  # gen 1: the May workload
    "2025-07-01 00:00:00",  # gen 2: May + June
    None,  # gen 3: the full log
]


def _spec_history_oracle() -> str:
    legs = []
    for gen, cut in enumerate(_SPEC_HISTORY_GENS, start=1):
        pred = (
            f"l.create_time < TIMESTAMP '{cut}'" if cut is not None else None
        )
        legs.append(f"""
      SELECT CAST({gen} AS BIGINT) AS generation, view_name,
             string_agg(column_name, ', ' ORDER BY candidate_rank)
               AS partition_keys_csv
      FROM ({_top3_sql(f"({_scored_sql(pred)}) scored_g{gen}")}) top3
      GROUP BY view_name""")
        # scored_g{gen} carries its own WITH; DuckDB scopes each leg's
        # CTEs inside the derived table, so the three legs cannot clash
    unioned = "\nUNION ALL\n".join(legs)
    return f"""
    WITH hist AS (
      {unioned}
    ),
    marked AS (
      SELECT view_name, generation, partition_keys_csv,
             (LAG(partition_keys_csv) OVER w IS DISTINCT FROM
              partition_keys_csv) AS spec_changed
      FROM hist
      WINDOW w AS (PARTITION BY view_name ORDER BY generation)
    )
    SELECT view_name, generation, partition_keys_csv, spec_changed,
           CAST(SUM(CASE WHEN spec_changed THEN 1 ELSE 0 END)
                OVER (PARTITION BY view_name) AS BIGINT) AS n_spec_changes
    FROM marked
    """


# plan-growth bound: the history union
# adds ~100 physical nodes per generation, so past this many legs each
# k-th leg is lineage-truncated with an eager localCheckpoint — the leg
# is dimension-sized (views x 1 rows), so the checkpoint materializes
# kilobytes while capping plan size at O(k) legs regardless of how deep
# the history grows. At the default 3 generations it never triggers
# (plan hash — and the bench baseline key — unchanged).
_SPEC_HISTORY_CHECKPOINT_EVERY = 8


@register("partition_spec_history", memo=True, oracle=_spec_history_oracle())
def partition_spec_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution across repeated advisor runs: the full
    recommendation pipeline (run_analysis, exact stats) executed as-of
    three cumulative log windows, emitting one row per (view,
    generation) with that run's recommended keys, whether the spec
    CHANGED versus the previous generation (first appearance counts as
    a change — spec creation, like Iceberg's first metadata_log entry),
    and the view's total spec churn. The workload genuinely drifts
    across the fixture's months, so generations disagree and the churn
    signal is real, not synthetic decoration.

    Scale shape: the table profile (exact NDV probes — the only stage
    that touches the DATA tables) and the log mining UDF each run ONCE,
    via the session-memoized full-log analysis every other advisor
    query shares; a generation then costs only its windowed re-
    aggregation of the two LOG-DERIVED signals (mined usage, per-column
    execution attribution — the miner is per-query pure, so windowing
    the full mined frame by the window's query ids is EXACTLY mining
    the windowed log) plus the dimension-sized rescore. The history
    union is (views x generations) rows and the LAG window partitions
    by view — nothing here grows with the data, only with schema width
    and run count, exactly like a real metadata log; past
    _SPEC_HISTORY_CHECKPOINT_EVERY legs, lineage truncation keeps the
    physical plan O(checkpoint interval) too."""
    return _spec_history(spark, sf_dir, _SPEC_HISTORY_GENS)


def _spec_history(
    spark: SparkSession, sf_dir: str, gens: "list[str | None]"
) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators import recommend

    res = recommend.run_analysis(
        spark, sf_dir, exact_stats=True, profile_percentiles=False
    )
    logs = res["query_logs"]
    mined = res["mined_logs"]
    candidates = res["candidates"]
    profiled = res["profiles"]
    # the generation-INVARIANT usage legs (catalog view counts + DDL
    # join mining — the latter a Python mapInPandas stage) come from
    # the cached full-log usage frame instead of being recomputed per
    # generation; only the two log-derived legs re-aggregate per window
    static_usage = res["usage"].where(
        F.col("source").isin("view_usage", "ddl_join_column")
    )
    hist: DataFrame | None = None
    for gen, cut in enumerate(gens, start=1):
        if cut is not None:
            logs_g = logs.where(
                F.col("create_time") < F.lit(cut).cast("timestamp")
            )
            mined_g = mined.join(
                logs_g.select("query_id"), "query_id", "left_semi"
            )
        else:
            logs_g, mined_g = logs, mined

        usage_g = static_usage.unionByName(scoring.log_usage_legs(mined_g))
        perf_g = scoring.column_performance(logs_g, mined_g)
        top_g = scoring.top_candidates(
            scoring.partition_scores(candidates, usage_g, profiled, perf_g)
        )
        leg = top_g.groupBy(F.col("view").alias("view_name")).agg(
            F.lit(gen).cast("bigint").alias("generation"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "column"))
                    ),
                    lambda s: s["column"],
                ),
                ", ",
            ).alias("partition_keys_csv"),
        )
        hist = leg if hist is None else hist.unionByName(leg)
        if gen % _SPEC_HISTORY_CHECKPOINT_EVERY == 0:
            # dimension-sized frame: the eager checkpoint costs one
            # tiny job and resets the accumulated union lineage
            hist = hist.localCheckpoint(eager=True)
    assert hist is not None
    w = Window.partitionBy("view_name").orderBy("generation")
    marked = hist.withColumn(
        "spec_changed",
        ~F.lag("partition_keys_csv")
        .over(w)
        .eqNullSafe(F.col("partition_keys_csv")),
    )
    return marked.withColumn(
        "n_spec_changes",
        F.sum(F.when(F.col("spec_changed"), 1).otherwise(0))
        .over(Window.partitionBy("view_name"))
        .cast("bigint"),
    ).select(
        "view_name",
        "generation",
        "partition_keys_csv",
        "spec_changed",
        "n_spec_changes",
    )


# ---------------------------------------------------------------------------
# A10 — dashboard rollups the reference computes in pandas/plotly
# (ui/app.py:416-421 histogram; app.py:427 interactive/batch counts),
# here as engine queries with fixture-CTE oracles.
# ---------------------------------------------------------------------------
@register(
    "resource_score_histogram",
    oracle=f"""
    WITH {_RESOURCE_CTES}
    SELECT CAST(LEAST(FLOOR(score / 10.0), 9.0) AS BIGINT) AS score_bucket,
           COUNT(*) AS n_queries
    FROM resource
    GROUP BY 1
    """,
)
def resource_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten-bin histogram of composite resource scores (dashboard A10)."""
    logs = fixtures.query_logs_df(spark)
    scored = scoring.resource_scores(logs)
    bucket = F.least(
        F.floor(F.col("resource_score") / 10.0), F.lit(9.0)
    ).cast("bigint")
    return scored.groupBy(bucket.alias("score_bucket")).agg(
        F.count(F.lit(1)).alias("n_queries")
    )


@register(
    "interactive_batch_counts",
    oracle=f"""
    WITH {_LOGS_CTE}
    SELECT
      (COALESCE(execution_time_ms < 10000, FALSE)
       OR upper(query) LIKE '%LIMIT%') AS is_interactive,
      COUNT(*) AS n_queries
    FROM query_logs
    GROUP BY 1
    """,
)
def interactive_batch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive-vs-batch share (dashboard pie, A10)."""
    logs = fixtures.query_logs_df(spark)
    return scoring.classify_queries(logs).groupBy("is_interactive").agg(
        F.count(F.lit(1)).alias("n_queries")
    )


def _hist_oracle() -> str:
    from ..operators import incremental

    b = incremental.bucket_sql("value", 0.0, 500.0, 20)
    return f"""
    SELECT {b} AS bucket,
           0.0 + {b} * 25.0 AS bin_lo,
           0.0 + ({b} + 1) * 25.0 AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """


@register("incremental_histogram_rollup", oracle=_hist_oracle())
def incremental_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeable histogram: per-day bucket-count partials over
    events.value (the persisted rows), rolled up to the global
    distribution. The ORACLE computes the histogram in one direct pass —
    hash equality IS the proof that merge(partials) == recompute. Same
    persist/merge topology as the HLL rollup, but exact, so it gets the
    strong check."""
    from ..operators import incremental

    events = tables.load_table(spark, sf_dir, "events")
    parts = incremental.histogram_partials(
        events, F.to_date("ts"), F.col("value"), 0.0, 500.0, 20
    )
    return incremental.merge_histograms(parts, 0.0, 500.0, 20)


@register(
    "incremental_distinct_rollup",
    oracle="""
    SELECT 'n_partitions' AS metric,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS value_checked
    FROM events
    UNION ALL
    SELECT 'n_rows', CAST(COUNT(*) AS DOUBLE) FROM events
    UNION ALL
    SELECT 'ndv_event_type', CAST(COUNT(DISTINCT event_type) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'ndv_user_id', CAST(COUNT(DISTINCT user_id) AS DOUBLE)
    FROM events
    ORDER BY metric
    """,
)
def incremental_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch upgrade of the reference's per-run approx_distinct
    rescan (src/partitioning.py:102-121): per-day HLL partial sketches
    over events, rolled up by sketch union. At 100 TB only delta
    partitions are ever sketched; the rollup reads KB-sized sketch rows.

    Sketch binaries are engine-specific, so the oracle checks the
    merge==recompute identity on exact counts plus a ±2% tolerance gate
    on the sketch NDVs: `n_partitions`/`n_rows` come straight from the
    merged partials (green iff the rollup conserved the exact counts),
    and each `ndv_*` row emits the Spark-side EXACT distinct count when
    the merged-sketch estimate is within ±2% of it, else the raw
    estimate (guaranteed mismatch against the oracle's exact NDV)."""
    from ..operators import incremental

    events = tables.load_table(spark, sf_dir, "events")
    parts = incremental.sketch_partition_stats(
        events, F.to_date("ts"), ["user_id", "event_type"], lg_k=14
    )
    merged = incremental.merge_sketch_stats(parts, ["user_id", "event_type"])
    exact = events.agg(
        F.count_distinct("user_id").alias("e_user_id"),
        F.count_distinct("event_type").alias("e_event_type"),
    )
    joined = merged.crossJoin(exact)  # both single-row

    def gated(approx: F.Column, exact_c: F.Column) -> F.Column:
        within = F.abs(approx - exact_c) <= 0.02 * F.abs(exact_c)
        return F.when(within, exact_c).otherwise(approx)

    rows = [
        ("n_partitions", F.col("n_partitions")),
        ("n_rows", F.col("n_rows")),
        (
            "ndv_event_type",
            gated(F.col("approx_distinct_event_type"), F.col("e_event_type")),
        ),
        (
            "ndv_user_id",
            gated(F.col("approx_distinct_user_id"), F.col("e_user_id")),
        ),
    ]
    out = None
    for metric, col in rows:
        leg = joined.select(
            F.lit(metric).alias("metric"),
            col.cast("double").alias("value_checked"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("metric")


@register(
    "cms_heavy_hitters",
    memo=True,
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS event_count
    FROM events
    GROUP BY user_id
    ORDER BY event_count DESC, user_id
    LIMIT 10
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter counts from a mergeable count-min sketch
    (operators/incremental.cms_partials/merge/estimate): per-day CM
    partials over events.user_id, union-merged, point-estimated for the
    exact top-10 users.

    Tolerance oracle: each row emits the EXACT count when the sketch
    estimate respects the CM guarantee (over-estimate only, within
    e/width of total mass ≈ 1% of N at width=1024), else the raw
    estimate — so a green row proves the sketch arithmetic AND the exact
    top-10 both match the oracle engine."""
    from ..operators import incremental

    from pyspark import StorageLevel

    events = tables.load_table(spark, sf_dir, "events")
    width = 1024
    parts = incremental.cms_partials(
        events, F.to_date("ts"), F.col("user_id"), depth=4, width=width
    )
    # the merged sketch is referenced twice (the estimate join AND
    # the row-0 total) — persist the <= depth*width-row frame so the
    # corpus-sized sketch build (explode x depth + two shuffles over
    # events) runs once, not once per reference.
    merged = incremental.cms_merge(parts).persist(StorageLevel.MEMORY_ONLY)
    # cached: cms_estimate's depth probe legs and the gate join all
    # reference this 10-row frame — without the cache the top-10
    # scan+sort subtree replays once per reference (~6x)
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(10)
        .persist(StorageLevel.MEMORY_ONLY)
    )
    est = incremental.cms_estimate(
        merged, exact, "user_id", depth=4, width=width
    )
    # N for the CM tolerance bound comes from the sketch itself: every
    # (non-null) key lands in exactly one bucket of row 0, so that row
    # sums to N — no extra full scan
    total = merged.where(F.col("row") == 0).agg(F.sum("n").alias("total"))
    gated = (
        exact.join(est, "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            F.when(
                (F.col("cms_count") >= F.col("exact_count"))
                & (
                    F.col("cms_count") - F.col("exact_count")
                    <= 0.01 * F.col("total")
                ),
                F.col("exact_count"),
            )
            .otherwise(F.col("cms_count"))
            .cast("bigint")
            .alias("event_count"),
        )
    )
    return gated.orderBy(F.desc("event_count"), "user_id")


@register(
    "histogram_quantile_estimate",
    memo=True,
    oracle="""
    SELECT 0.5 AS q, ROUND(quantile_cont(value, 0.5), 6) AS quantile_checked
    FROM events WHERE value IS NOT NULL
    UNION ALL
    SELECT 0.9, ROUND(quantile_cont(value, 0.9), 6)
    FROM events WHERE value IS NOT NULL
    UNION ALL
    SELECT 0.99, ROUND(quantile_cont(value, 0.99), 6)
    FROM events WHERE value IS NOT NULL
    ORDER BY q
    """,
)
def histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from the mergeable equi-width histogram
    (operators/incremental.histogram_quantiles): per-day partials →
    merge → linear interpolation within the containing bucket. The gate
    is |estimate - exact| <= 2*bucket_width: the histogram positions the
    quantile at rank N*q while Spark's percentile interpolates at rank
    (N-1)*q, so near a bucket boundary the exact quantile can land in
    the adjacent bucket — one width for in-bucket interpolation error
    plus one for the rank-offset term. Each row emits the EXACT quantile
    under the gate, else the raw estimate (guaranteed mismatch — fails
    red, never silently green). At 100 TB only
    delta partitions are histogrammed; the quantile query reads ≤ nbins
    rows."""
    from ..operators import incremental

    lo, hi, nbins = 0.0, 500.0, 64
    qs = [0.5, 0.9, 0.99]
    events = tables.load_table(spark, sf_dir, "events")
    parts = incremental.histogram_partials(
        events, F.to_date("ts"), F.col("value"), lo, hi, nbins
    )
    merged = incremental.merge_histograms(parts, lo, hi, nbins)
    est = incremental.histogram_quantiles(merged, qs, lo, hi, nbins)
    exact = events.where(F.col("value").isNotNull()).agg(
        *[
            F.percentile("value", F.lit(q)).alias(f"exact_{int(q * 100)}")
            for q in qs
        ]
    )
    width = (hi - lo) / nbins
    gated = est.crossJoin(F.broadcast(exact))
    legs = None
    for q in qs:
        exact_col = F.col(f"exact_{int(q * 100)}")
        leg = gated.where(F.col("q") == q).select(
            F.col("q"),
            F.round(
                F.when(
                    F.abs(F.col("quantile_est") - exact_col) <= 2 * width,
                    exact_col,
                ).otherwise(F.col("quantile_est")),
                6,
            ).alias("quantile_checked"),
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs.orderBy("q")


# ---------------------------------------------------------------------------
# Spark-native sizing advice: the reference advises TABLE partition
# layouts; on Spark the same adaptive-partitioning question recurs for
# shuffles (spark.sql.shuffle.partitions / repartition sizing) and for
# the quantitative cost of each candidate layout.
# ---------------------------------------------------------------------------
@register(
    "shuffle_partition_advice",
    oracle=f"""
    WITH {_LOGS_CTE}
    SELECT query_id, input_bytes,
           CAST(LEAST(GREATEST(
             CEIL(CAST(COALESCE(input_bytes, 0) AS DOUBLE) / 67108864.0),
             1), 2000) AS BIGINT) AS advised_partitions
    FROM query_logs
    ORDER BY query_id
    """,
)
def shuffle_partition_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per logged query, the shuffle partition count that puts ~64 MB in
    each task — the arithmetic AQE's advisoryPartitionSizeInBytes applies
    at runtime, surfaced as static advice (operators/sizing.py)."""
    from ..operators import sizing

    return sizing.advise_shuffle_partitions(
        fixtures.query_logs_df(spark)
    ).orderBy("query_id")


@register(
    "partition_layout_whatif",
    oracle="""
    WITH cand AS (
      SELECT 'event_type' AS candidate_key,
             CAST(event_type AS VARCHAR) AS k FROM events
      UNION ALL
      SELECT 'event_day', CAST(CAST(ts AS DATE) AS VARCHAR) FROM events
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
    ),
    per AS (
      SELECT candidate_key, k, COUNT(*) AS n FROM cand GROUP BY 1, 2
    )
    SELECT candidate_key,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_partition_rows,
           -- VARCHAR->DECIMAL rounding emulates Spark's
           -- shortest-repr HALF_UP semantics exactly (see
           -- queries/suites.py) — plain ROUND(double) diverges at
           -- exact 4dp/6dp ties, and this oracle runs over per-round
           -- regenerated table data, not fixed fixtures
           CAST(ROUND(CAST(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n)
             AS VARCHAR)::DECIMAL(38,12), 4) AS DOUBLE) AS skew_ratio,
           CAST(ROUND(CAST(1.0 / COUNT(*) AS VARCHAR)::DECIMAL(38,12), 6)
             AS DOUBLE) AS est_scan_fraction
    FROM per
    GROUP BY candidate_key
    ORDER BY candidate_key
    """,
)
def partition_layout_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative layout what-if over the events table: for each
    candidate partition key, partition count, per-partition row skew,
    and the expected scan fraction of an equality predicate — the number
    the advisor's recommendation trades on. One scan for all candidates
    (stack-exploded, operators/sizing.py)."""
    from ..operators import sizing

    ev = tables.load_table(spark, sf_dir, "events")
    return sizing.partition_layout_whatif(
        ev,
        {
            "event_type": F.col("event_type"),
            "event_day": F.col("ts").cast("date"),
            "user_id": F.col("user_id"),
        },
    )


def _file_metadata_oracle() -> str:
    # Footer paths are resolved at oracle-build time to the driver's
    # correctness scale (PARITY_SF_DIR, default sf0.01) — the one scale
    # at which Spark result and oracle are ever compared. DuckDB parses
    # the same footers with its own reader, so a green row means two
    # independent parquet implementations agree on the physical layout.
    sf = _parity_sf_dir()
    # top-level column count = the root schema node's num_children
    # (COUNT(*)-1 over parquet_schema would count nested list/element
    # nodes and disagree with the logical width on array columns)
    legs = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name,"
        f" CAST(num_rows AS BIGINT) AS n_rows,"
        f" CAST(num_row_groups AS BIGINT) AS n_row_groups,"
        f" CAST((SELECT num_children FROM"
        f" parquet_schema('{sf}/{t}.parquet') LIMIT 1) AS BIGINT)"
        f" AS n_columns"
        f" FROM parquet_file_metadata('{sf}/{t}.parquet')"
        for t in tables.TABLES
    )
    return f"SELECT * FROM (\n{legs}\n) m ORDER BY table_name"


@register("table_file_metadata", oracle=_file_metadata_oracle())
def table_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only probe of every table's parquet footer (rows, row
    groups, columns) — the `$metadata` analog (sources/tables.py). The
    oracle parses the same footers with DuckDB's independent reader.

    The oracle's footer paths are pinned at registration time to the
    parity scale (PARITY_SF_DIR); running the Spark side against any
    other directory would silently compare footers from two different
    scales, so a mismatch fails loudly here instead."""
    import os

    pinned = _parity_sf_dir()
    if os.path.realpath(sf_dir) != os.path.realpath(pinned):
        raise ValueError(
            f"table_file_metadata is pinned to the parity scale "
            f"{pinned!r} (its DuckDB oracle resolves footer paths at "
            f"registration time); got sf_dir={sf_dir!r}. Set "
            f"PARITY_SF_DIR before import to compare another scale."
        )
    rows = tables.file_metadata(sf_dir)
    return spark.createDataFrame(
        [
            (r["table_name"], r["n_rows"], r["n_row_groups"], r["n_columns"])
            for r in rows
        ],
        "table_name string, n_rows long, n_row_groups long, n_columns long",
    ).orderBy("table_name")


# (table, numeric column) pairs whose COUNT/MIN/MAX the advisor answers
# from footers alone. Numeric-only on purpose: parquet row-group stats
# for int/double columns are exact value copies (string stats may be
# truncated by writers), so footer == full scan is a hard equality.
_FOOTER_AGG_SPECS: tuple[tuple[str, str], ...] = (
    ("orders", "o_orderkey"),
    ("orders", "o_totalprice"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("customer", "c_acctbal"),
    ("supplier", "s_acctbal"),
    ("part", "p_size"),
    ("events", "user_id"),
    ("events", "value"),
)


def _footer_agg_oracle() -> str:
    # FULL-SCAN oracle, deliberately path-free: unlike table_file_metadata
    # (whose oracle re-parses the same footers), this one recomputes every
    # aggregate from the DATA through the registered views, so a green row
    # proves the footer statistics answer the aggregates exactly — at
    # whatever sf the driver runs. No pinning needed.
    legs = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, '{c}' AS column_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
        f" CAST(MIN({c}) AS DOUBLE) + 0 AS min_v,"
        f" CAST(MAX({c}) AS DOUBLE) + 0 AS max_v"
        f" FROM {t}"
        for t, c in _FOOTER_AGG_SPECS
    )
    return (
        f"SELECT * FROM (\n{legs}\n) m ORDER BY table_name, column_name"
    )


@register("metadata_pushdown_aggregates", oracle=_footer_agg_oracle())
def metadata_pushdown_aggregates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate pushdown INTO the footer: COUNT/MIN/MAX/null-count for
    ten numeric columns answered from parquet row-group statistics with
    zero data pages read (sources/tables.column_stats_from_footers).

    The min/max range probe is the advisor's hottest metadata question
    (reference analog: the `$metadata` stats probes,
    src/trino_client.py:65-107); at 100 TB this is the difference
    between one footer parse per file and a full scan per table. The
    oracle recomputes every value from the data itself, so a green row
    certifies footer == scan exactly — at any scale, which also makes
    this row benchable (its cost is size-independent while the oracle's
    grows with the data)."""
    rows = tables.column_stats_from_footers(sf_dir, _FOOTER_AGG_SPECS)
    return spark.createDataFrame(
        [
            (
                r["table_name"],
                r["column_name"],
                r["n_rows"],
                r["n_nulls"],
                r["min_v"],
                r["max_v"],
            )
            for r in rows
        ],
        "table_name string, column_name string, n_rows long, n_nulls long,"
        " min_v double, max_v double",
    ).orderBy("table_name", "column_name")


@register(
    "skew_salt_advice",
    oracle="""
    WITH per AS (
      SELECT user_id AS key, COUNT(*) AS n_rows
      FROM events GROUP BY user_id
    )
    SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(LEAST(GREATEST(
             CEIL(CAST(n_rows AS DOUBLE) / 50.0), 1), 64) AS BIGINT)
             AS salt_factor
    FROM per
    WHERE CEIL(CAST(n_rows AS DOUBLE) / 50.0) > 1
    ORDER BY n_rows DESC, key
    """,
)
def skew_salt_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting advice over the events stream: per user_id whose
    row count exceeds one ~50-row task, the salt fan-out that flattens
    the key (operators/sizing.advise_salt_factors; consumed by
    operators/skew.with_keyed_salt). AQE's skew-join handles joins at runtime;
    this is the static complement for aggregations."""
    from ..operators import sizing

    ev = tables.load_table(spark, sf_dir, "events")
    return (
        sizing.advise_salt_factors(ev, F.col("user_id"))
        .where(F.col("salt_factor") > 1)
        .orderBy(F.desc("n_rows"), "key")
    )


# ---------------------------------------------------------------------------
# The last step of the adaptive loop — drift triggers rendered as
# executable DDL. partition_recommendation_drift says WHICH (view,
# column) pairs drifted into relevance; this emits the REPLACE PARTITION
# SPEC a user would apply: current transforms kept, drifted columns
# appended as identity keys (full transform re-scoring remains
# partition_recommendations_exact's job — this is the drift-time patch,
# the manual loop the reference user closes by re-running the one-shot
# analysis, src/partitioning.py:294-325 + :414-440).
# ---------------------------------------------------------------------------
@register(
    "drift_repartition_scripts",
    memo=True,
    oracle=f"""
    WITH {_RECS_CTES},
    {_LOGS_CTE},
    {_MINED_CTE},
    {_VIEW_COLS_CTE},
    usage AS ({_drift_usage_sql("m.name")}),
    added AS (
      SELECT vc.view_name,
        string_agg(vc.column_name, ', ' ORDER BY vc.column_name)
          AS added_columns_csv
      FROM view_columns vc
      JOIN usage u ON vc.column_name = u.name
      LEFT JOIN top3 k
        ON vc.view_name = k.view_name AND vc.column_name = k.column_name
      WHERE k.column_name IS NULL
        AND (u.n_early = 0 OR u.n_late > u.n_early)
      GROUP BY vc.view_name
    )
    SELECT a.view_name,
      COALESCE(r.partition_keys_csv, '') AS current_keys_csv,
      a.added_columns_csv,
      CASE WHEN r.transforms_csv IS NULL THEN a.added_columns_csv
           ELSE r.transforms_csv || ', ' || a.added_columns_csv
      END AS new_spec_csv,
      'ALTER TABLE ' || a.view_name || ' REPLACE PARTITION SPEC ('
        || CASE WHEN r.transforms_csv IS NULL THEN a.added_columns_csv
                ELSE r.transforms_csv || ', ' || a.added_columns_csv
           END || ');' AS alter_ddl
    FROM added a LEFT JOIN recs r USING (view_name)
    ORDER BY a.view_name
    """,
)
def drift_repartition_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-to-DDL: for every view with at least one 're-partition'
    trigger (a non-key column whose usage is new or risen), emit the
    patched REPLACE PARTITION SPEC — current transforms preserved in
    candidate-rank order, drifted columns appended as identity keys in
    name order. Fully hash-oracled including the DDL string.

    Scale shape: composes two dimension-sized frames (the trigger table
    and the recommendation table — both O(views x columns) regardless of
    data scale) with one equi-join on view_name; the expensive inputs
    (log mining, stats profiling) are the session-memoized frames every
    advisor query shares."""
    from ..operators import recommend

    triggers = partition_recommendation_drift(spark, sf_dir)
    added = (
        triggers.where(F.col("trigger_action") == "re-partition")
        .groupBy("view_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("column_name")), ", "
            ).alias("added_columns_csv")
        )
    )
    res = recommend.run_analysis(
        spark, sf_dir, exact_stats=True, profile_percentiles=False
    )
    recs = res["recommendations"].where(F.size("partition_keys") > 0).select(
        F.col("view").alias("view_name"),
        F.array_join("partition_keys", ", ").alias("keys_csv"),
        F.array_join("transforms", ", ").alias("transforms_csv"),
    )
    new_spec = F.when(
        F.col("transforms_csv").isNull(), F.col("added_columns_csv")
    ).otherwise(
        F.concat_ws(", ", F.col("transforms_csv"), F.col("added_columns_csv"))
    )
    return (
        added.join(recs, "view_name", "left")
        .select(
            "view_name",
            F.coalesce("keys_csv", F.lit("")).alias("current_keys_csv"),
            "added_columns_csv",
            new_spec.alias("new_spec_csv"),
            F.concat(
                F.lit("ALTER TABLE "),
                F.col("view_name"),
                F.lit(" REPLACE PARTITION SPEC ("),
                new_spec,
                F.lit(");"),
            ).alias("alter_ddl"),
        )
        .orderBy("view_name")
    )
