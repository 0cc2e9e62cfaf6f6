"""Split-layout loader fixture (sources/tables.split_layout_dir): the
multi-row-group twin must be a pure LAYOUT rewrite — same rows, same
order, byte-equal schema — and every read path must see identical data
through it. Also pins the jsonl sharding and the bench quiet-retry
envelope."""
from __future__ import annotations

import os

import pyarrow.parquet as pq

from trino_adaptive_partitioning_tool_spark.sources import tables

PARITY_SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
SF01 = "/root/testdata/sf0.1"


def test_twin_is_pure_layout_rewrite():
    """Every table in the twin holds exactly the original rows in the
    original order with the original schema; big single-row-group
    tables gain row groups of max(1024, ceil(rows / 32)) rows."""
    twin = tables.split_layout_dir(SF01)
    assert twin != SF01  # something was rewritten at sf0.1
    for t in tables.TABLES:
        src = f"{SF01}/{t}.parquet"
        dst = f"{twin}/{t}.parquet"
        assert pq.read_schema(src).equals(pq.read_schema(dst)), t
        a, b = pq.read_table(src), pq.read_table(dst)
        assert a.num_rows == b.num_rows, t
        # order-sensitive equality, not just set equality
        assert a.equals(b.combine_chunks().cast(a.schema)), t
        if not os.path.islink(dst):
            md = pq.ParquetFile(dst).metadata
            group = max(1024, -(-a.num_rows // tables._SPLIT_ROW_GROUPS))
            full, rest = divmod(a.num_rows, group)
            assert [
                md.row_group(i).num_rows for i in range(md.num_row_groups)
            ] == [group] * full + ([rest] if rest else []), t
    # the large tables actually split
    assert pq.ParquetFile(f"{twin}/lineitem.parquet").num_row_groups >= 8
    assert pq.ParquetFile(f"{twin}/events.parquet").num_row_groups >= 8


def test_twin_symlinks_small_tables():
    twin = tables.split_layout_dir(SF01)
    # region (5 rows, <64 KB) must be linked, not rewritten
    assert os.path.islink(f"{twin}/region.parquet")
    assert not os.path.islink(f"{twin}/lineitem.parquet")


def test_twin_cached_per_process_and_disableable(monkeypatch):
    twin1 = tables.split_layout_dir(SF01)
    twin2 = tables.split_layout_dir(SF01)
    assert twin1 == twin2  # one rewrite per process
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_LAYOUT", "0")
    assert tables.split_layout_dir(SF01) == SF01


def test_load_table_reads_identical_rows_through_twin(spark):
    from pyspark.sql import functions as F

    def fingerprint(df):
        # order-exact aggregates only: a raw double sum varies in the
        # last ulps with partitioning (why the queries round through
        # the decimal convention); decimal accumulation is exact
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("s"),
            F.sum("l_orderkey").alias("k"),
        ).collect()[0]

    li_twin = tables.load_table(spark, PARITY_SF_DIR, "lineitem")
    direct = spark.read.parquet(f"{PARITY_SF_DIR}/lineitem.parquet")
    assert tuple(fingerprint(li_twin)) == tuple(fingerprint(direct))


def test_footer_probes_unaffected_by_twin():
    """file_metadata/table_file_metadata read sf_dir originals: row-group
    counts must reflect the ORIGINAL single-row-group files."""
    tables.split_layout_dir(PARITY_SF_DIR)  # force the twin to exist
    for row in tables.file_metadata(PARITY_SF_DIR):
        orig = pq.ParquetFile(
            f"{PARITY_SF_DIR}/{row['table_name']}.parquet"
        )
        assert row["n_row_groups"] == orig.metadata.num_row_groups


def test_jsonl_write_shards_to_core_count(spark, tmp_path):
    """The gzip JSONL write must shard (read parallelism = shard
    count) and the sharded read must equal the unsharded rollup."""
    from trino_adaptive_partitioning_tool_spark.operators import jsonl

    docs = tables.load_table(spark, PARITY_SF_DIR, "documents")
    p1 = str(tmp_path / "sharded")
    jsonl.write_jsonl_gz(docs, p1)
    shards = [f for f in os.listdir(p1) if f.endswith(".gz")]
    assert len(shards) == spark.sparkContext.defaultParallelism
    p2 = str(tmp_path / "single")
    jsonl.write_jsonl_gz(docs, p2, n_shards=1)
    from trino_adaptive_partitioning_tool_spark.queries.crawl import (
        jsonl_quarantine_rollup,
    )

    a = sorted(
        map(
            tuple,
            jsonl_quarantine_rollup(
                jsonl.read_jsonl_quarantine(spark, p1)
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            jsonl_quarantine_rollup(
                jsonl.read_jsonl_quarantine(spark, p2)
            ).collect(),
        )
    )
    assert a == b


def test_bench_quiet_gate_helpers():
    import bench

    # attempts key rides the full output line
    lines = bench.emit_output_lines(
        total=1.0,
        timings={"q": 1.0},
        layout_speedup=None,
        scan_scaling_x=None,
        regressions={},
        missing_baseline=[],
        sf=0.1,
        attempts=2,
    )
    import json

    assert json.loads(lines[0])["attempts"] == 2


def test_pagerank_single_iteration_skips_repartition(spark):
    """n_iterations=1 must not pay the src pre-shuffle (one join
    cannot amortize it); the iterated path keeps it."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import graph
    from trino_adaptive_partitioning_tool_spark.plans import inspect as pi

    edges = spark.range(0, 200).select(
        (F.col("id") % 20).alias("src"), (F.col("id") % 7).alias("dst")
    )
    one = graph.pagerank_integer(edges, n_iterations=1)
    multi = graph.pagerank_integer(edges, n_iterations=2)
    m1 = pi.plan_manifest(one)
    m2 = pi.plan_manifest(multi)
    assert m1["exchanges"] < m2["exchanges"]
    # and the single-iteration result still matches the iterated
    # operator's first-round arithmetic on a fixed toy graph
    r1 = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_integer(edges, n_iterations=1).collect()
    }
    # reference: rank'(v) = base + 0.85 * sum(init div out_deg) over in-edges
    ed = [(i % 20, i % 7) for i in range(200)]
    out_deg: dict[int, int] = {}
    for s, _d in ed:
        out_deg[s] = out_deg.get(s, 0) + 1
    inflow: dict[int, int] = {}
    for s, d in ed:
        inflow[d] = inflow.get(d, 0) + 1_000_000 // out_deg[s]
    nodes = {s for s, _ in ed} | {d for _, d in ed}
    expect = {
        n: 150_000 + (85 * inflow.get(n, 0)) // 100 for n in nodes
    }
    assert r1 == expect


def test_mined_fixture_logs_shared_and_equal(spark):
    """The session-shared mined frame is one object per session and
    value-identical to a directly-built mining pass."""
    from trino_adaptive_partitioning_tool_spark.operators import (
        mining,
        recommend,
    )
    from trino_adaptive_partitioning_tool_spark.sources import fixtures

    a = recommend.mined_fixture_logs(spark)
    b = recommend.mined_fixture_logs(spark)
    assert a is b
    direct = mining.mine_query_log(fixtures.query_logs_df(spark))
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_relative_sf_dir_loads_every_table(spark, monkeypatch):
    """Run from the data dir's parent, a relative sf_dir still loads
    every table with its original row count: the twin's symlinks point
    at absolute paths, not at paths relative to the twin."""
    monkeypatch.delenv("SPARK_GRAFT_SPLIT_LAYOUT", raising=False)
    monkeypatch.chdir(os.path.dirname(PARITY_SF_DIR))
    rel = os.path.basename(PARITY_SF_DIR)
    twin = tables.split_layout_dir(rel)
    assert twin != rel
    for t in tables.TABLES:
        n = pq.ParquetFile(f"{PARITY_SF_DIR}/{t}.parquet").metadata.num_rows
        assert os.path.exists(f"{twin}/{t}.parquet"), t
        assert tables.load_table(spark, rel, t).count() == n, t


def test_directory_tables_link_into_the_twin(spark, tmp_path, monkeypatch):
    """A data dir mixing a file table with a Spark directory table
    (name.parquet/ holding part files) loads both through the twin, with
    the original row counts: the file table is rewritten, the directory
    table is linked whole."""
    import shutil

    monkeypatch.delenv("SPARK_GRAFT_SPLIT_LAYOUT", raising=False)
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(f"{PARITY_SF_DIR}/lineitem.parquet", data / "lineitem.parquet")
    orders = spark.read.parquet(f"{PARITY_SF_DIR}/orders.parquet")
    orders.repartition(3).write.parquet(str(data / "orders.parquet"))
    twin = tables.split_layout_dir(str(data))
    assert twin != str(data)
    assert not os.path.islink(f"{twin}/lineitem.parquet")
    assert os.path.islink(f"{twin}/orders.parquet")
    want = {
        "lineitem": pq.ParquetFile(
            f"{PARITY_SF_DIR}/lineitem.parquet"
        ).metadata.num_rows,
        "orders": orders.count(),
    }
    for t, n in want.items():
        assert tables.load_table(spark, str(data), t).count() == n, t
