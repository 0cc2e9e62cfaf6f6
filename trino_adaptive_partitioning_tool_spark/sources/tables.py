"""Parquet table sources.

Replaces the reference's catalog scans over Trino information_schema
(reference: src/trino_client.py:22-36, src/cli.py:43-53) — here the
"catalog" is the driver-provided parquet directory and Spark's own
catalog/schema introspection (`df.schema`, `spark.catalog.listColumns`).

All reads are plain `spark.read.parquet`, so Catalyst predicate pushdown,
column pruning and vectorized scans apply end-to-end. At 100 TB the same
code path works against a partitioned table root; nothing here assumes
single-file inputs.
"""

from __future__ import annotations

import os
import threading
from functools import lru_cache

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from ..tempdirs import exit_tempdir

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------------------
# Split-layout loader fixture. The local testdata parquet is ONE row
# group per table, so every scan — and everything map-side of the first
# exchange — runs as a single task no matter how many cores exist: at
# sf0.1 the whole bench was floored on single-threaded scans and 11
# queries measured FLAT from 8 to 32 cores (BENCH_r13_c8.json). 100 TB tables never look like that: they
# arrive as many files / many >=128 MB row groups and Spark's default
# split math parallelizes them. This fixture makes the LOCAL layout look
# like the production one: each single-row-group table file above a size
# floor is rewritten — same rows, same order, byte-identical schema
# (asserted) — into _SPLIT_ROW_GROUPS row groups in a per-process temp
# dir; small dimension tables and directory tables are symlinked.
# Row-group parallelism then comes from Spark's own scale-adaptive split
# formula
#   maxSplitBytes = min(maxPartitionBytes,
#                       max(openCostInBytes, totalBytes/minPartitionNum))
# (session.py lowers openCostInBytes so the formula can reach row-group
# granularity on 10 MB files; at production sizes the same formula lands
# on maxPartitionBytes and behaves exactly as stock).
#
# NOT result caching: the twin holds the INPUT rows only (a pure layout
# rewrite, rebuilt from the parquet inputs once per process into a
# mkdtemp that is removed at exit — nothing persists across runs), and
# every query still computes from parquet. Footer-introspection paths
# (column_stats_from_footers, file_metadata) read sf_dir directly and
# are unaffected. Disable with SPARK_GRAFT_SPLIT_LAYOUT=0 to read the
# original files.
_SPLIT_ROW_GROUPS = 32
_SPLIT_MIN_BYTES = 65536  # below this a table is one task anyway
_SPLIT_CACHE: dict[str, str] = {}
_SPLIT_LOCK = threading.Lock()


def split_layout_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_SPLIT_LAYOUT", "1").lower() not in (
        "0", "false", "no", "off",
    )


def split_layout_dir(sf_dir: str) -> str:
    """Return the per-process multi-row-group twin of ``sf_dir`` (built
    lazily on first use), or ``sf_dir`` itself when the fixture is
    disabled or nothing needs splitting."""
    if not split_layout_enabled():
        return sf_dir
    with _SPLIT_LOCK:
        cached = _SPLIT_CACHE.get(sf_dir)
        if cached is not None and os.path.isdir(cached):
            return cached
        names = [
            fn for fn in sorted(os.listdir(sf_dir)) if fn.endswith(".parquet")
        ] if os.path.isdir(sf_dir) else []
        if not names:
            _SPLIT_CACHE[sf_dir] = sf_dir
            return sf_dir
        twin = exit_tempdir("tapt_split_layout_")
        for fn in names:
            # absolute: a relative target would resolve against the twin
            src = os.path.abspath(os.path.join(sf_dir, fn))
            dst = os.path.join(twin, fn)
            try:
                # a directory table (Spark's name.parquet/ of part files)
                # is already split: link it whole
                if os.path.isfile(src) and _rewrite_row_groups(src, dst):
                    continue
            except Exception:
                # unreadable/corrupt candidate: keep the original path
                # visible so the query fails (or succeeds) exactly as it
                # would have without the fixture
                if os.path.lexists(dst):
                    os.remove(dst)
            os.symlink(src, dst)
        _SPLIT_CACHE[sf_dir] = twin
        return twin


def _rewrite_row_groups(src: str, dst: str) -> bool:
    """Write ``src`` to ``dst`` as _SPLIT_ROW_GROUPS row groups when it is
    one big row group; False (nothing left at ``dst``) when it should
    stay as it is. Streams one row group's worth of rows at a time, so
    no whole table is ever held in memory."""
    pf = _pq.ParquetFile(src)
    rows = pf.metadata.num_rows
    if (
        pf.metadata.num_row_groups != 1
        or os.path.getsize(src) < _SPLIT_MIN_BYTES
        or rows < _SPLIT_ROW_GROUPS
    ):
        return False
    # 1024-row floor: tables smaller than 32k rows get proportionally
    # fewer groups instead of degenerate hundred-row ones (per-group
    # reader state is a fixed cost)
    group_rows = max(1024, -(-rows // _SPLIT_ROW_GROUPS))
    with _pq.ParquetWriter(dst, pf.schema_arrow) as writer:
        for batch in pf.iter_batches(batch_size=group_rows):
            writer.write_batch(batch, row_group_size=group_rows)
    # hard guarantee: a rewrite that changes the logical schema must
    # never reach a query — fall back to the original file instead
    if _pq.read_schema(src).equals(_pq.read_schema(dst)):
        return True
    os.remove(dst)
    return False


@lru_cache(maxsize=None)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as
    long under spark.sql.legacy.parquet.nanosAsLong (footer-only probe)."""
    try:
        schema = _pq.read_schema(path)
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if str(f.type) == "timestamp[ns]"
    )


# Raw (pre-nanos-fix) schema per parquet path. Every schema-less
# spark.read.parquet launches a footer-inference job; the advisor pipeline
# loads each table several times (candidate enumeration + profiling +
# scoring), so pay that job once per path and pass the schema explicitly
# afterwards. Keyed by path only — schemas are a property of the files,
# not the session.
_SCHEMA_CACHE: dict[str, object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata parquet table with type normalization.

    SIDE EFFECT: when the file contains naive (no-timezone) timestamp
    columns, this sets ``spark.sql.session.timeZone=UTC`` on the
    caller's session for the rest of its lifetime (and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` for ns columns). This
    is intentional — the NTZ→TIMESTAMP relabel below is only exact under
    UTC, and the driver builds its own session that skips our factory —
    but it means caller-built sessions doing local-timezone timestamp
    work after a load will see UTC semantics from then on.
    """
    # data reads go through the split-layout twin (same rows, same
    # schema, multi-row-group — see split_layout_dir above); footer
    # probes elsewhere keep reading sf_dir originals.
    path = os.path.join(split_layout_dir(sf_dir), f"{name}.parquet")
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        # must work with ANY caller-provided session (the driver builds its
        # own), so set the legacy nanos conf at runtime, not session build
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    for c in nano_cols:
        # ns-as-long → µs → timestamp; sub-µs precision is dropped, same
        # as every engine that stores µs timestamps (DuckDB included).
        # Integer `div`, not `/1000`: ns epochs exceed 2^53, so double
        # division drifts by a few µs.
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    # Parquet timestamp[us] (no timezone) arrives as TIMESTAMP_NTZ, which
    # functions like unix_micros/session_window reject. With the session
    # TZ pinned to UTC the NTZ → TIMESTAMP cast is a pure type relabel:
    # the µs epoch values are bit-identical and every DuckDB oracle
    # (which reads the same files as naive timestamps) matches. Pin the
    # TZ here too (runtime conf) so the relabel is exact even under a
    # caller-built session that skipped our factory (session.py).
    ntz_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so SQL-surface queries can run."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def partition_layout(path: str) -> dict[str, list[str]]:
    """Discover the partition spec of a written table from its directory
    layout (`key=value` segments) — the Spark-side analog of the
    reference's Iceberg `$metadata` partition-spec probe
    (src/trino_client.py:95-107). Returns {partition_column: sorted
    distinct values}. Local-FS walk; on a cluster the same listing comes
    from the Hadoop FileSystem API / catalog."""
    layout: dict[str, set[str]] = {}
    for root, dirs, _files in os.walk(path):
        del root
        for d in dirs:
            if "=" in d:
                k, _, v = d.partition("=")
                layout.setdefault(k, set()).add(v)
    return {k: sorted(v) for k, v in layout.items()}


def table_columns(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Schema introspection without reading data (parquet footer only).

    Replaces the reference's per-view information_schema.columns round-trip
    (src/cli.py:43-53) with a metadata-only schema read.
    """
    return load_table(spark, sf_dir, name).schema.fieldNames()


def column_stats_from_footers(
    sf_dir: str, specs: tuple[tuple[str, str], ...]
) -> list[dict]:
    """Answer COUNT/MIN/MAX/null-count for (table, numeric column) pairs
    purely from parquet row-group statistics — zero data pages read.

    This is the aggregate-pushdown path a partitioning advisor lives on
    at 100 TB: the min/max range probe (reference analog: the Iceberg
    `$metadata` stats the reference's advisor reads via
    src/trino_client.py:65-107) costs one footer parse per FILE instead
    of one scan per TABLE. Row-group stats for integer/double columns
    are exact value copies in the parquet spec, so the footer-derived
    answer must equal the full-scan answer bit-for-bit — which is
    precisely what the DuckDB full-scan oracle of
    queries/advisor.metadata_pushdown_aggregates certifies at every sf.

    Raises if any row group lacks stats (a silent fallback to a scan
    would defeat the contract)."""
    out = []
    for table_name, col in specs:
        pf = _pq.ParquetFile(f"{sf_dir}/{table_name}.parquet")
        idx = pf.schema_arrow.names.index(col)
        n_rows = pf.metadata.num_rows
        n_nulls = 0
        mins: list[float] = []
        maxs: list[float] = []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max or not st.has_null_count:
                raise ValueError(
                    f"{table_name}.{col}: row group {rg} lacks min/max "
                    f"or null-count statistics — footer-only "
                    f"aggregation is impossible"
                )
            n_nulls += st.null_count
            mins.append(st.min)
            maxs.append(st.max)
        out.append(
            {
                "table_name": table_name,
                "column_name": col,
                "n_rows": n_rows,
                "n_nulls": n_nulls,
                # + 0.0 canonicalizes IEEE negative zero: parquet
                # writers store -0.0 as the DOUBLE min when present,
                # engines' MIN() may return either sign, and -0.0 vs
                # 0.0 survives numeric compares but breaks string
                # hashing — both this side and the oracle normalize
                "min_v": float(min(mins)) + 0.0,
                "max_v": float(max(maxs)) + 0.0,
            }
        )
    return out


def file_metadata(sf_dir: str) -> list[dict]:
    """Parquet-footer metadata for every table — rows, row groups,
    columns — WITHOUT reading any data. The Spark-side analog of the
    reference's Iceberg `$metadata` probes (src/trino_client.py:65-107):
    a metadata-only scan whose cost is independent of table size."""
    out = []
    for t in TABLES:
        pf = _pq.ParquetFile(f"{sf_dir}/{t}.parquet")
        out.append(
            {
                "table_name": t,
                "n_rows": pf.metadata.num_rows,
                "n_row_groups": pf.metadata.num_row_groups,
                # TOP-LEVEL column count from the already-parsed footer
                # (metadata.num_columns counts physical LEAVES, which
                # disagrees with logical width on nested array columns)
                "n_columns": len(pf.schema_arrow.names),
            }
        )
    return out
