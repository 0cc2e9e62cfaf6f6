"""get_spark() sizes itself from the host unless the environment says
otherwise: every core this process may run on, and a driver heap of at
most half the physical memory."""

from __future__ import annotations

from contextlib import contextmanager

from trino_adaptive_partitioning_tool_spark import session


@contextmanager
def _confs(spark, **kv):
    """Set session confs for the block; restore the old values on exit."""
    old = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_default_parallelism_is_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_parallelism() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert session.default_parallelism() == 32


def test_default_driver_memory_is_half_physical_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert session.default_driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_driver_memory() == "2g"


def test_advisor_refresh_compiles_each_class_once(spark, tmp_path):
    """One advisor refresh (run_analysis over a log window, the top-5 and
    recommendation collects, the result writes) runs more generated
    classes than Spark's stock 100-entry codegen cache holds. Repeated
    with the same window, the second pass must find every class cached
    and hand Janino nothing to compile."""
    import datetime as dt

    from pyspark.sql import functions as F

    from conftest import SMOKE_SF_DIR
    from trino_adaptive_partitioning_tool_spark.operators import recommend
    from trino_adaptive_partitioning_tool_spark.sources import (
        fixtures,
        results_io,
    )

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    window = (F.col("create_time") >= F.lit(dt.datetime(2025, 5, 1))) & (
        F.col("create_time") < F.lit(dt.datetime(2025, 6, 15))
    )

    def refresh() -> int:
        compiled = codegen.METRIC_SOURCE_CODE_SIZE().getCount()
        res = recommend.run_analysis(
            spark, SMOKE_SF_DIR, logs_df=fixtures.query_logs_df(spark),
            time_filter=window,
        )
        try:
            assert res["resource_scores"].orderBy(
                F.col("resource_score").desc(), "query_id"
            ).limit(5).collect()
            assert res["recommendations"].collect()
            results_io.save_analysis_results(res, out_dir=str(tmp_path))
        finally:
            recommend.release_analysis(res)
        return codegen.METRIC_SOURCE_CODE_SIZE().getCount() - compiled

    # Pin the plan so both passes run the same classes. The query_id join
    # in scoring.column_performance plans as a SortMergeJoin while the
    # memoized log fixture is unmaterialized (first pass) and as a
    # BroadcastHashJoin once its real size is known (second pass);
    # threshold -1 keeps it a SortMergeJoin in both. AQE still renumbers
    # whole-stage-codegen stages in the order its query stages finish,
    # and a renumbered stage is new source to compile, so it is off for
    # the block. A 100-entry cache still recompiles ~126 classes here.
    with _confs(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        refresh()
        assert refresh() == 0
