"""SparkSession factory.

Replaces the reference's DBAPI connection bootstrap
(reference: src/trino_client.py:7-20 get_connection) — in the rebuild the
"connection" is a SparkSession and Spark SQL is the execution engine.

Sized from the host by default (every core this process may use, a driver
heap of at most half the physical memory), with cluster-safe settings:
AQE (runtime re-plan, skew-join splitting, partition coalescing) is always
on, shuffle partitions default to the local core count instead of 200, and
Arrow is enabled for every pandas hand-off.
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
        # r13 (guide §3.1/§9) — shuffled-hash join enablement tried and
        # REJECTED: both the static preferSortMergeJoin=false flip and
        # the AQE maxShuffledHashJoinLocalMapThreshold runtime rewrite
        # measured ~5-8% faster on the join-heavy flagships at sf0.1,
        # but switching the join algorithm reorders double summation
        # and nation_market_share's round(sum(double),2) flips a cent
        # under the no-broadcast plan regime
        # (tests/test_scale_plans.py::test_joins_survive_no_broadcast_regime
        # guards exactly this cross-plan result stability). Sort-merge
        # keeps aggregate input order deterministic across plan
        # regimes; a deployment that accepts last-ulp drift on rounded
        # double sums can re-enable SHJ via extra_conf.
        # testdata writes TIMESTAMP(NANOS) parquet (events.ts), which Spark
        # rejects by default; read as long and cast back in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r14 (guide §6, §2.2): let Spark's own scale-adaptive split
        # formula  maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum))  track the
        # core count on small local files. The stock 4 MB open cost
        # FLOORS split size at 4 MB (a 15 MB table is at most 4 splits
        # regardless of cores); 1 MB reflects a local-SSD/page-cache
        # open cost and lets the ~15 MB testdata tables split ~15-way
        # at local[32] vs ~7-way at local[8] — the scan scales WITH the
        # cores — while at production sizes totalBytes/cores far
        # exceeds it and the formula lands on the stock 128 MB
        # behavior. 1 MB, not smaller: an r14 ABBA sweep measured the
        # finer 128 KB splits (19-32 tasks per ~2-15 MB file) LOSING
        # 2x on multi-scan queries to per-task overhead under this
        # host's virtualization steal (OPTIMIZATION_r14.md). Pairs with
        # the multi-row-group loader twin (sources/tables.
        # split_layout_dir): byte-range splits only parallelize when
        # row groups exist at that granularity.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
