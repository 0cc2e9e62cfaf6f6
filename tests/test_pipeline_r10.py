"""Round-10 operator units: footer-only aggregation (error contract +
exactness), gzip-JSONL quarantine invariants (framing, routing,
character preservation), the BPE pair model, and the map-only shape of
the embedding decontamination scan."""

from __future__ import annotations

import json
import gzip
import glob

import pytest

from conftest import PARITY_SF_DIR

from trino_adaptive_partitioning_tool_spark.operators import jsonl
from trino_adaptive_partitioning_tool_spark.sources import tables


# --- footer-only aggregation ------------------------------------------------


def test_footer_stats_match_scan(spark):
    specs = (("orders", "o_totalprice"), ("lineitem", "l_quantity"))
    rows = {
        (r["table_name"], r["column_name"]): r
        for r in tables.column_stats_from_footers(PARITY_SF_DIR, specs)
    }
    for t, c in specs:
        df = tables.load_table(spark, PARITY_SF_DIR, t)
        scan = df.selectExpr(
            "count(*) AS n",
            f"count(*) - count({c}) AS nulls",
            f"CAST(min({c}) AS DOUBLE) AS mn",
            f"CAST(max({c}) AS DOUBLE) AS mx",
        ).first()
        r = rows[(t, c)]
        assert r["n_rows"] == scan.n
        assert r["n_nulls"] == scan.nulls
        assert r["min_v"] == scan.mn  # exact: parquet numeric stats are
        assert r["max_v"] == scan.mx  # value copies, not approximations


def test_footer_stats_unknown_column_fails_loudly():
    with pytest.raises(Exception):
        tables.column_stats_from_footers(
            PARITY_SF_DIR, (("orders", "no_such_column"),)
        )


# --- gzip JSONL quarantine ----------------------------------------------


@pytest.fixture(scope="module")
def jsonl_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("jsonl")) + "/docs"
    docs = tables.load_table(spark, PARITY_SF_DIR, "documents")
    jsonl.write_jsonl_gz(docs, path)
    return path


def test_jsonl_shards_are_gzip_one_object_per_line(jsonl_dir):
    files = glob.glob(jsonl_dir + "/part-*.txt.gz")
    assert files, "no gzip shards written"
    n_good = n_bad = 0
    for f in files:
        for line in gzip.open(f, "rt", encoding="utf-8"):
            line = line.rstrip("\n")
            try:
                obj = json.loads(line)
                assert set(obj) <= {
                    "doc_id", "lang", "source", "n_chars", "text"
                }
                n_good += 1
            except json.JSONDecodeError:
                assert len(line) == jsonl.CORRUPT_PREFIX_LEN
                n_bad += 1
    assert n_good > 0 and n_bad > 0


def test_jsonl_quarantine_routing_and_text_preserved(spark, jsonl_dir):
    parsed = jsonl.read_jsonl_quarantine(spark, jsonl_dir).cache()
    docs = tables.load_table(spark, PARITY_SF_DIR, "documents")
    n_docs = docs.count()
    n_corrupt_expected = docs.where(
        jsonl.corrupt_pred(docs.doc_id)
    ).count()
    bad = parsed.where(parsed._corrupt_record.isNotNull())
    good = parsed.where(parsed._corrupt_record.isNull())
    assert parsed.count() == n_docs
    assert bad.count() == n_corrupt_expected
    # quarantined rows carry NO parsed fields; clean rows carry ALL
    assert bad.where(bad.doc_id.isNotNull()).count() == 0
    assert good.where(good.text.isNull()).count() == 0
    # the decoded text of every clean row is byte-identical to the source
    joined = good.select("doc_id", "text").join(
        docs.select(
            docs.doc_id, docs.text.alias("orig")
        ),
        "doc_id",
    )
    assert joined.where(joined.text != joined.orig).count() == 0
    parsed.unpersist()


def test_jsonl_corrupt_prefix_is_invalid_json():
    # the truncation contract: 12 chars of any serialized object can
    # never form valid JSON (object opens, never closes)
    for doc_id in (0, 1, 999999, 123456789):
        prefix = ('{"doc_id":%d,"lang":"en"}' % doc_id)[
            : jsonl.CORRUPT_PREFIX_LEN
        ]
        with pytest.raises(json.JSONDecodeError):
            json.loads(prefix)


# --- BPE pair model ----------------------------------------------------


def test_bpe_pair_counts_hand_model(spark):
    from trino_adaptive_partitioning_tool_spark.queries import text as tq

    df = spark.createDataFrame(
        [(1, "aba aba cd"), (2, "aba X9 zz")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("__bpe_probe")
    # replicate the query body on a controlled frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from trino_adaptive_partitioning_tool_spark.operators import dedup

    words = (
        df.select(F.explode(dedup.tokens_expr("text")).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    got = {r["pair"]: r["n"] for r in pairs.collect()}
    # aba x3 -> ab:3, ba:3; cd x1; zz x1; X9 filtered (non-alpha after
    # lower it's 'x9' — digit rejected)
    assert got == {"ab": 3, "ba": 3, "cd": 1, "zz": 1}


# --- decontamination scan plan shape ------------------------------------


def test_decontamination_scan_is_map_only_before_rollup(spark):
    from trino_adaptive_partitioning_tool_spark.queries.similarity import (
        decontamination_embedding_scan,
    )

    df = decontamination_embedding_scan(spark, PARITY_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r11: the bench matrix ships inside the Arrow pandas_udf closure
    # (the r10 broadcast-join-of-an-array formulation ran the per-pair
    # cosine on the interpreted HOF path, ~3x slower end-to-end) —
    # the scan is one ArrowEvalPython stage over the corpus with NO
    # join of any kind, then the label x band rollup shuffle
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


# --- integer-lattice PageRank ---------------------------------------------


def test_pagerank_integer_hand_graph(spark):
    """3-node chain a->b->c (+ reverse edges): hand-computed lattice
    ranks after one and two iterations."""
    from pyspark.sql import functions as F
    from trino_adaptive_partitioning_tool_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    # deg: 1->1, 2->2, 3->1. r0 = 1_000_000 each.
    # contribs: from 1: 1_000_000 -> 2; from 2: 500_000 -> 1 and 3;
    #           from 3: 1_000_000 -> 2.
    # r1(1) = 150000 + 85*500000//100  = 575000
    # r1(2) = 150000 + 85*2000000//100 = 1850000
    # r1(3) = 575000
    got1 = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_integer(edges, n_iterations=1).collect()
    }
    assert got1 == {1: 575000, 2: 1850000, 3: 575000}
    # r2(1) = 150000 + 85*(1850000//2)//100 = 150000+786250 = 936250
    # r2(2) = 150000 + 85*(575000+575000)//100 = 1127500
    # r2(3) = 936250
    got2 = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_integer(edges, n_iterations=2).collect()
    }
    assert got2 == {1: 936250, 2: 1127500, 3: 936250}


def test_pagerank_no_inedge_node_keeps_base(spark):
    from trino_adaptive_partitioning_tool_spark.operators import graph

    edges = spark.createDataFrame([(7, 8)], "src long, dst long")
    got = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_integer(edges, n_iterations=1).collect()
    }
    assert got[7] == 150000  # nothing points at 7
    assert got[8] == 150000 + 85 * 1_000_000 // 100


# --- sessionization gap sweep ---------------------------------------------


def test_gap_sweep_monotone_and_event_conserving(spark):
    from trino_adaptive_partitioning_tool_spark.queries.core_sql2 import (
        sessionize_gap_sensitivity,
    )

    rows = sessionize_gap_sensitivity(spark, PARITY_SF_DIR).collect()
    by_gap = {r["gap_minutes"]: r for r in rows}
    gaps = sorted(by_gap)
    totals = {by_gap[g]["total_events"] for g in gaps}
    assert len(totals) == 1  # every config accounts for every event
    for lo, hi in zip(gaps, gaps[1:]):
        # widening the gap can only merge sessions, never split them
        assert by_gap[hi]["n_sessions"] <= by_gap[lo]["n_sessions"]
        assert by_gap[hi]["max_session_events"] >= by_gap[lo][
            "max_session_events"
        ]


# --- language-ID confusion -------------------------------------------------


def test_language_confusion_totals_match_corpus(spark):
    from trino_adaptive_partitioning_tool_spark.queries.text import (
        language_id_confusion,
    )
    from trino_adaptive_partitioning_tool_spark.sources import tables

    rows = language_id_confusion(spark, PARITY_SF_DIR).collect()
    docs = tables.load_table(spark, PARITY_SF_DIR, "documents")
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # lang_total is consistent within each true language
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["true_lang"], []).append(r)
    for lang, cells in per_lang.items():
        totals = {c["lang_total"] for c in cells}
        assert len(totals) == 1
        assert totals.pop() == sum(c["n_docs"] for c in cells)


# --- perceptual-hash image dedup -------------------------------------------


def test_phash_finds_exactly_planted_pairs(spark):
    """Every planted duplicate pair (exact + one-pixel perturbations) is
    found; no unrelated pair sneaks under the hamming gate."""
    from trino_adaptive_partitioning_tool_spark.queries.multimodal import (
        multimodal_phash_near_dup,
    )

    rows = multimodal_phash_near_dup(spark, PARITY_SF_DIR).collect()
    total = sum(r["n_pairs"] for r in rows)
    assert total == 64  # n=256, every aid % 4 == 3 duplicates aid - 3
    assert all(r["hamming"] <= 4 for r in rows)


def test_phash_bit_contract(spark):
    """Hand raster: gray cross-multiplied mean threshold, row-major bit
    order."""
    import numpy as np
    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    class _Codec(mm.PixmapCodec):
        def pixels(self, payload):
            # 2x2 gray raster: [[10, 20], [30, 40]]; mean 25
            return np.array(
                [[[10], [20]], [[30], [40]]], dtype=np.uint8
            )

    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"x"))],
        "asset_id long, media_type string, payload binary",
    )
    row = mm.perceptual_hashes(
        assets, require_codec=True, codec=_Codec()
    ).collect()[0]
    # bits: 10*4>100? no; 20*4>100? no; 30*4>100 yes (bit 2);
    # 40*4>100 yes (bit 3) -> 0b1100 = 12
    assert row["phash"] == 12
    assert row["n_pixels"] == 4


# --- property-based depth ---------------------------------------------------


from hypothesis import given, settings
from hypothesis import strategies as st


def _pagerank_reference(edges, n_iterations):
    """Independent integer PageRank on plain dicts — the operator's spec
    re-derived without Spark, floor-division lattice included."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s_, _ in edges:
        deg[s_] = deg.get(s_, 0) + 1
    rank = {v: 1_000_000 for v in nodes}
    for _ in range(n_iterations):
        inflow = {v: 0 for v in nodes}
        for s_, d_ in edges:
            inflow[d_] += rank[s_] // deg[s_]
        rank = {v: 150_000 + (85 * inflow[v]) // 100 for v in nodes}
    return rank


@settings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_matches_reference_on_random_graphs(
    spark, edges, iters
):
    from trino_adaptive_partitioning_tool_spark.operators import graph

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_integer(df, n_iterations=iters).collect()
    }
    assert got == _pagerank_reference(edges, iters)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_jsonl_roundtrip_preserves_arbitrary_text(
    spark, tmp_path_factory, texts
):
    """Adversarial content — newlines, quotes, backslashes, control
    chars, emoji — survives the encode -> gzip -> PERMISSIVE decode
    round trip byte-identically and never breaks line framing."""
    from trino_adaptive_partitioning_tool_spark.operators import jsonl

    # no need to dodge the corruption hash: compare only the clean
    # rows (the hash-planted corrupt ones have null text by contract)
    rows = [(i, "xx", "prop", len(t), t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string,"
        " n_chars long, text string"
    )
    path = str(tmp_path_factory.mktemp("jsonl_prop")) + "/docs"
    jsonl.write_jsonl_gz(df, path)
    parsed = jsonl.read_jsonl_quarantine(spark, path).cache()
    good = {
        r["doc_id"]: r["text"]
        for r in parsed.where(
            parsed._corrupt_record.isNull()
        ).collect()
    }
    parsed.unpersist()
    expected = {
        i: t for i, t in enumerate(texts) if not _is_corrupt(i)
    }
    assert good == expected


def _is_corrupt(doc_id: int) -> bool:
    import hashlib

    from trino_adaptive_partitioning_tool_spark.operators.jsonl import (
        CORRUPT_MOD,
    )

    h = hashlib.md5(f"jsonl|{doc_id}".encode()).hexdigest()[:15]
    return int(h, 16) % CORRUPT_MOD == 0


def test_embench_cache_evicts_through_fit_cache_seam(spark):
    """The decontamination bench matrix is session-memoized like the
    k-means fits and must release through the SAME seam."""
    from conftest import memo_entry
    from trino_adaptive_partitioning_tool_spark import memo
    from trino_adaptive_partitioning_tool_spark.queries.similarity import (
        decontamination_embedding_scan,
    )

    decontamination_embedding_scan(spark, PARITY_SF_DIR).count()
    app = spark.sparkContext.applicationId
    key = (PARITY_SF_DIR,)
    assert memo_entry(spark, "similarity.embench", key) is not None
    memo.evict(app, PARITY_SF_DIR)
    assert memo_entry(spark, "similarity.embench", key) is None
