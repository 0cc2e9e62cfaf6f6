"""SparkSession factory.

Replaces the reference's DBAPI connection bootstrap
(reference: src/trino_client.py:7-20 get_connection) — in the rebuild the
"connection" is a SparkSession and Spark SQL is the execution engine.

Sized from the host by default (every core this process may use, a driver
heap of at most half the physical memory), with cluster-safe settings:
AQE (runtime re-plan, skew-join splitting, partition coalescing) is always
on, shuffle partitions default to the local core count instead of 200,
Arrow is enabled for every pandas hand-off, and the codegen cache holds a
repeated workload's generated classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else the smaller of 16g and half of
    physical memory (a 16g heap on a 16 GB host gets the JVM killed)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "trino-adaptive-partitioning-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    On a real cluster `spark.sql.shuffle.partitions` should be ~2-3x total
    executor cores (AQE coalesces down); locally we match the core count so
    tiny test shuffles don't fan out into 200 empty tasks.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Joins stay sort-merge (no shuffled-hash joins): switching the
        # algorithm reorders double summation, and nation_market_share's
        # round(sum(double), 2) flips a cent under the no-broadcast plan
        # regime (tests/test_scale_plans.py::
        # test_joins_survive_no_broadcast_regime). Shuffled-hash joins
        # measured ~5-8% faster on the join-heavy flagships at sf0.1; a
        # deployment that accepts last-ulp drift on rounded double sums
        # can enable them through extra_conf.
        # testdata writes TIMESTAMP(NANOS) parquet (events.ts), which Spark
        # rejects by default; read as long and cast back in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark splits files at min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes / minPartitionNum)). The stock 4 MB open cost floors
        # splits at 4 MB, so a 15 MB table is at most 4 splits whatever
        # the core count; at 1 MB (a local-SSD/page-cache open cost) the
        # ~15 MB testdata tables split ~15-way at local[32] and ~7-way at
        # local[8], and at production sizes totalBytes / cores far
        # exceeds it, which lands on the stock 128 MB. Not smaller: an
        # ABBA sweep measured 128 KB splits (19-32 tasks per ~2-15 MB
        # file) 2x slower on multi-scan queries from per-task overhead on
        # a virtualized host (OPTIMIZATION_r14.md). Byte-range splits
        # only parallelize where row groups exist at that granularity,
        # which the loader's multi-row-group twin provides
        # (sources/tables.split_layout_dir).
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Spark keeps compiled generated classes in a cache keyed by
        # source text, 100 entries by default. One advisor refresh runs
        # ~140 distinct classes (plus ~16 that inline its log window)
        # and a scan_profile op ~130, so the stock cache evicted most of
        # them within each op: every refresh recompiled ~130 in Janino,
        # and the JIT then compiled them again. The bound holds the
        # largest repeated cycle the package runs: one pass of the
        # registry compiles 4,619 distinct classes (sf0.001); at 5,000 a
        # second pass recompiles 861, of which 805 have source that
        # differs per build and miss at any size. A retained class costs
        # ~10 KB of Metaspace and ~15 KB of heap (its source key and
        # bytecode), ~125 MB when full; a refresh loop alone retains a
        # few hundred.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
