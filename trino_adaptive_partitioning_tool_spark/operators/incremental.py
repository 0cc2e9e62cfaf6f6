"""Incremental statistics via mergeable DataSketches HLL sketches.

The reference recomputes `approx_distinct` over the full table on every
run (src/partitioning.py:102-121 issues one `SELECT approx_distinct(col)`
per view/column per invocation). At 100 TB a full rescan per advisor run
is the dominant cost, and it is unnecessary: distinct-count sketches are
*mergeable*, so per-partition partial sketches can be persisted once and
new data folded in by sketch union — the standard lambda/kappa rollup
pattern.

Spark-native building blocks (all JVM-side, whole-stage codegen around
them):

* `hll_sketch_agg(col)`   — per-group binary HLL sketch (Apache
  DataSketches), computed map-side with partial aggregation.
* `hll_union_agg(sketch)` — merges persisted sketches; order-independent,
  so incremental union == full recompute, exactly.
* `hll_sketch_estimate`   — estimate extraction.

Topology: `sketch_partition_stats` emits one row per ingest partition
(e.g. per day) holding row counts + one sketch per profiled column —
this is what a pipeline persists. `merge_sketch_stats` rolls any set of
such rows up to global estimates without touching base data. Appending a
day = sketching ONLY the delta partition and unioning ~KB-sized rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sketch_partition_stats(
    df: DataFrame,
    partition_expr: Column,
    key_cols: list[str],
    lg_k: int = 12,
) -> DataFrame:
    """Per-ingest-partition partial aggregates: row count + one mergeable
    HLL sketch per key column. One shuffle on the partition key; sketches
    are built map-side (partial aggregation) so the exchange carries
    ~(partitions × columns) KB-sized binaries, not rows."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in key_cols:
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"hll_{c}"))
    return df.groupBy(partition_expr.alias("part")).agg(*aggs)


def partition_merge_aggs(key_cols: list[str]) -> list[Column]:
    """Re-merge of stats rows sharing a partition: row counts add,
    sketches union."""
    return [F.sum("n_rows").alias("n_rows")] + [
        F.hll_union_agg(F.col(f"hll_{c}")).alias(f"hll_{c}") for c in key_cols
    ]


def merge_sketch_stats(stats: DataFrame, key_cols: list[str]) -> DataFrame:
    """Roll persisted partial-sketch rows up to global estimates. Input is
    partition-stats-sized (tiny), so this runs in one stage regardless of
    base-table size."""
    aggs = [
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").alias("n_rows"),
    ]
    for c in key_cols:
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg(F.col(f"hll_{c}")))
            .cast("long")
            .alias(f"approx_distinct_{c}")
        )
    return stats.agg(*aggs)


def incremental_update(
    persisted_stats: DataFrame,
    delta: DataFrame,
    partition_expr: Column,
    key_cols: list[str],
    lg_k: int = 12,
) -> DataFrame:
    """Fold a new data slice into persisted partition stats: sketch ONLY
    the delta, then union per-partition (re-merging sketches where a
    partition receives late rows). Base data is never rescanned."""
    delta_stats = sketch_partition_stats(delta, partition_expr, key_cols, lg_k)
    return (
        persisted_stats.unionByName(delta_stats)
        .groupBy("part")
        .agg(*partition_merge_aggs(key_cols))
    )


# ---------------------------------------------------------------------------
# Exact mergeable histograms — the same persist-partials/merge topology as
# the HLL sketches, but for value distributions, and EXACT (bucket counts
# are plain sums), so the full pipeline is DuckDB-hash-checkable.
# ---------------------------------------------------------------------------

def bucket_expr(col: Column, lo: float, hi: float, nbins: int) -> Column:
    """Equi-width bucket index in [0, nbins): floor-scaled, edge-clamped.
    Pure double IEEE arithmetic — bit-identical across engines (see
    bucket_sql for the mirrored oracle formula)."""
    scaled = (col.cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(nbins)
    return F.least(
        F.greatest(F.floor(scaled).cast("long"), F.lit(0)),
        F.lit(nbins - 1),
    )


def bucket_sql(expr: str, lo: float, hi: float, nbins: int) -> str:
    """DuckDB twin of bucket_expr — same literals, same operation order."""
    return (
        f"LEAST(GREATEST(CAST(FLOOR((CAST({expr} AS DOUBLE) - {lo})"
        f" / {hi - lo} * {nbins}) AS BIGINT), 0), {nbins - 1})"
    )


def histogram_partials(
    df: DataFrame,
    partition_expr: Column,
    col: Column,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Per-ingest-partition bucket counts (part, bucket, n) — the rows a
    pipeline persists. One shuffle carrying ≤ partitions × nbins rows;
    counts combine map-side."""
    return (
        df.where(col.isNotNull())
        .groupBy(
            partition_expr.alias("part"),
            bucket_expr(col, lo, hi, nbins).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(partials: DataFrame, lo: float, hi: float, nbins: int) -> DataFrame:
    """Roll persisted partials up to the global histogram. Exact: the
    merge is a plain sum, so incremental == full recompute, bit-for-bit.
    Emits bin bounds for the report surface."""
    width = (hi - lo) / nbins
    return (
        partials.groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("bin_hi"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable heavy-hitter counts) — r3
# ---------------------------------------------------------------------------

def _cms_bucket(key: Column, row: int, width: int) -> Column:
    """Row-i hash bucket for a key: md5-prefix integer of (i|key) mod
    width — deterministic across engines/executors (same portable-md5
    family as the dedup sketches)."""
    from .dedup import md5_60

    return F.pmod(
        md5_60(F.concat(F.lit(f"{row}|"), key.cast("string"))), F.lit(width)
    )


def cms_partials(
    df: DataFrame,
    partition_expr: Column,
    key: Column,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Per-ingest-partition count-min sketch rows (part, row, bucket, n).
    Like the HLL/histogram partials: a pipeline persists these and only
    ever sketches the delta partitions; each partition contributes
    ≤ depth × width rows regardless of data size.

    ONE scan + ONE shuffle: the depth hash rows explode from an inline
    array per input row (not one groupBy leg per row — that plan scans
    the table depth times), and counts combine map-side before the
    exchange."""
    from .dedup import ensure_parallelism

    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cms_bucket(key, i, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    # depth x md5 per row is CPU-bound; spread it when the scan itself
    # can't (single-row-group files read as one task) — no-op on
    # well-split inputs
    return (
        ensure_parallelism(df.where(key.isNotNull()))
        .select(partition_expr.alias("part"), F.explode(rows).alias("rb"))
        .groupBy("part", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Union-merge persisted partials: plain sum per (row, bucket) — the
    count-min merge is exact, so incremental == full recompute."""
    return partials.groupBy("row", "bucket").agg(
        F.sum("n").cast("bigint").alias("n")
    )


def cms_estimate(
    merged: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate counts for a key set: min over depth rows of the
    key's bucket counter. The merged sketch is ≤ depth × width rows —
    broadcast side of the join; estimate error is bounded by e/width × N
    (classic CM guarantee), always an OVER-estimate. depth/width must
    match the cms_partials build (they are sketch parameters, not
    data — no discovery scan)."""
    probes = None
    for i in range(depth):
        leg = keys.select(
            F.col(key_col),
            F.lit(i).alias("row"),
            _cms_bucket(F.col(key_col), i, width).alias("bucket"),
        )
        probes = leg if probes is None else probes.unionByName(leg)
    assert probes is not None
    return (
        probes.join(F.broadcast(merged), ["row", "bucket"])
        .groupBy(key_col)
        .agg(F.min("n").alias("cms_count"))
    )


def histogram_quantiles(
    hist: DataFrame, qs: list[float], lo: float, hi: float, nbins: int
) -> DataFrame:
    """Quantile estimates from a merged equi-width histogram by linear
    interpolation within the containing bucket — the mergeable-sketch
    answer to percentile queries (error ≤ one bucket width). Input is the
    merge_histograms output (≤ nbins rows), so everything here runs on
    sketch-sized data."""
    width = (hi - lo) / nbins
    total = hist.agg(F.sum("n").alias("total"))
    # Cumulative count via a broadcast self-join instead of an
    # unpartitioned ordered window: on a <= nbins-row sketch the
    # triangular join is trivially cheap, and it keeps the
    # `WindowExec: No Partition Defined` warning channel clean — that
    # warning should stay reserved for windows that are single-partition
    # by accident over real data, not by design over a sketch. (A
    # constant partitionBy key does not silence it: Catalyst folds the
    # literal away and the partition spec is empty again at execution.)
    prior = hist.select(
        F.col("bucket").alias("prior_bucket"), F.col("n").alias("prior_n")
    )
    cum = (
        hist.join(
            F.broadcast(prior), F.col("prior_bucket") <= F.col("bucket")
        )
        .groupBy("bucket", "bin_lo", "n")
        .agg(F.sum("prior_n").alias("cum"))
        .crossJoin(F.broadcast(total))
    )
    out = None
    for q in qs:
        # first bucket whose cumulative count reaches q*total
        target = F.col("total") * F.lit(q)
        leg = (
            cum.where(F.col("cum") >= target)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.round(
                    F.col("bin_lo")
                    + F.lit(width)
                    * (
                        (target - (F.col("cum") - F.col("n")))
                        / F.col("n")
                    ),
                    6,
                ).alias("quantile_est"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    assert out is not None
    return out
