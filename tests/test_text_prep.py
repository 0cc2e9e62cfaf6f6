"""Unit tests for the PII-scrub and chunking operators
(operators/text.redact_pii / chunk_documents); their end-to-end oracle
parity runs in test_oracle_parity (pii_redaction_stats /
document_chunking_stats)."""

from __future__ import annotations

import pytest

from trino_adaptive_partitioning_tool_spark.operators import text as ops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_redact_pii_counts_and_replacement(spark):
    rows = [
        (1, "mail a@b.io and c.d+x@e.org, see https://x.y/z?q=1 now"),
        (2, "call +1 (555) 010-1234 today"),
        (3, "nothing here"),
    ]
    out = {
        r["doc_id"]: r for r in ops.redact_pii(_docs(spark, rows)).collect()
    }
    assert (out[1]["n_email"], out[1]["n_url"], out[1]["n_phone"]) == (2, 1, 0)
    assert out[1]["redacted_text"] == (
        "mail [REDACTED] and [REDACTED], see [REDACTED] now"
    )
    assert out[2]["n_phone"] == 1
    assert "[REDACTED]" in out[2]["redacted_text"]
    assert out[3]["redacted_text"] == "nothing here"


def test_chunk_documents_boundaries(spark):
    # chunk=10, overlap=4 -> stride 6; len 22 -> chunks at 0,6,12 (3)
    rows = [(1, "abcdefghijklmnopqrstuv"), (2, "short"), (3, "")]
    out = ops.chunk_documents(
        _docs(spark, rows), chunk_chars=10, overlap=4
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk"] for r in c1] == [
        "abcdefghij", "ghijklmnop", "mnopqrstuv"
    ]
    # consecutive chunks overlap by exactly `overlap` chars
    assert c1[0]["chunk"][-4:] == c1[1]["chunk"][:4]
    # shorter than one chunk -> exactly one chunk; empty -> one empty
    assert [r["chunk"] for r in by_doc[2]] == ["short"]
    assert [r["chunk"] for r in by_doc[3]] == [""]


def test_chunk_documents_exact_multiple(spark):
    # len == chunk_chars -> exactly one chunk, no phantom second
    rows = [(1, "0123456789")]
    out = ops.chunk_documents(
        _docs(spark, rows), chunk_chars=10, overlap=2
    ).collect()
    assert len(out) == 1 and out[0]["chunk_len"] == 10


def test_chunk_documents_invalid_overlap(spark):
    with pytest.raises(ValueError):
        ops.chunk_documents(_docs(spark, [(1, "x")]), 10, 10)


def test_scrub_and_chunk_plans_are_map_only(spark):
    """Both prep operators must stay shuffle-free (embarrassingly
    parallel over documents) — the property that makes them linear at
    100 TB."""
    from conftest import SMOKE_SF_DIR

    from trino_adaptive_partitioning_tool_spark.plans import inspect
    from trino_adaptive_partitioning_tool_spark.sources import tables

    docs = tables.load_table(spark, SMOKE_SF_DIR, "documents")
    assert inspect.shuffle_count(ops.redact_pii(docs)) == 0
    assert inspect.shuffle_count(ops.chunk_documents(docs)) == 0


def test_chunk_reconstruction_property(spark):
    """Lossless-coverage invariant: chunk0 + chunk1[overlap:] +
    chunk2[overlap:] + ... reconstructs the original text exactly, for
    any (chunk_chars, overlap) and any text length — chunk boundaries
    can't drop or duplicate a byte."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cases = []

    @settings(max_examples=30, deadline=None)
    @given(
        st.text(alphabet="abcxyz ", min_size=0, max_size=200),
        st.integers(min_value=2, max_value=40),
        st.integers(min_value=0, max_value=39),
    )
    def collect(text, chunk_chars, overlap):
        if overlap < chunk_chars:
            cases.append((len(cases), text, chunk_chars, overlap))

    collect()
    # one Spark job for all generated cases (per-example Spark runs
    # would take minutes): chunk each case with its own params via a
    # per-row filter — params are data here, not plan constants — so
    # group identical params and run one chunk_documents per group
    from collections import defaultdict

    by_params = defaultdict(list)
    for i, text, c, o in cases:
        by_params[(c, o)].append((i, text))
    for (c, o), rows in by_params.items():
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ops.chunk_documents(df, chunk_chars=c, overlap=o).collect()
        chunks_by_doc = defaultdict(list)
        for r in out:
            chunks_by_doc[r["doc_id"]].append((r["chunk_idx"], r["chunk"]))
        for i, text in rows:
            ordered = [ch for _, ch in sorted(chunks_by_doc[i])]
            rebuilt = ordered[0] + "".join(ch[o:] for ch in ordered[1:])
            assert rebuilt == text, (text, c, o, ordered)


@pytest.mark.parametrize("name, stages", [
    ("corpus_filter_funnel", [
        "input", "lang_consistent", "quality", "repetition",
        "exact_dedup", "near_dedup",
    ]),
    ("corpus_filter_funnel_extended", [
        "input", "lang_consistent", "quality", "repetition",
        "model_quality", "exact_dedup", "near_dedup", "span_dedup",
    ]),
], ids=["corpus_filter_funnel", "corpus_filter_funnel_extended"])
def test_corpus_filter_funnel_monotone_and_complete(spark, name, stages):
    """Each preprocessing funnel must enumerate every stage in order with
    non-increasing document and token counts (each stage filters the
    previous stage's survivors)."""
    from trino_adaptive_partitioning_tool_spark.queries import registry

    from conftest import SMOKE_SF_DIR

    rows = registry.queries()[name](spark, SMOKE_SF_DIR).collect()
    assert [r["stage"] for r in rows] == stages
    docs = [r["n_docs"] for r in rows]
    toks = [r["n_tokens"] for r in rows]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert docs[0] > 0 and docs[-1] > 0


def test_lm_bigram_scores_hand_computed(spark):
    """Tiny corpus with hand-computable Laplace bigram model: corpus =
    {"a b a b", "a b"} -> vocab {a, b} (V=2); bigrams: d1 has
    (a,b),(b,a),(a,b); d2 has (a,b). c(a,b)=3, c(b,a)=1; contexts
    c(a)=3, c(b)=1."""
    import math

    from trino_adaptive_partitioning_tool_spark.operators import text as tops

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tops.lm_bigram_scores(docs).collect()}
    # V=3 (a, b, solo); c(ab)=3, c(ba)=1, c(a)=3, c(b)=1
    lp_ab = math.log((3 + 1) / (3 + 3))
    lp_ba = math.log((1 + 1) / (1 + 3))
    d1 = rows[1]
    assert d1["n_bigrams"] == 3
    assert d1["avg_logp"] == round((2 * lp_ab + lp_ba) / 3, 4)
    d2 = rows[2]
    assert d2["n_bigrams"] == 1
    assert d2["avg_logp"] == round(lp_ab, 4)
    assert d2["pseudo_ppl"] == round(math.exp(-lp_ab), 4)
    assert 3 not in rows  # single-token doc has no bigrams


def test_duplicate_span_stats_verbatim_copies(spark):
    """Two verbatim copies share every span (ratio 1.0); a unique doc
    shares none; docs shorter than n emit no row."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text),
        (2, text),
        (3, "one unique sentence with eight entirely distinct little words"),
        (4, "too short"),
    ]
    out = {
        r["doc_id"]: r
        for r in ops.duplicate_span_stats(_docs(spark, rows), n=8).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["shared_span_ratio"] == 1.0
    assert out[2]["shared_span_ratio"] == 1.0
    assert out[3]["n_shared_spans"] == 0
    assert out[1]["n_spans"] == 3  # 10 tokens -> 3 distinct 8-gram spans


def test_duplicate_span_stats_skew_safe_path_identical(spark):
    """The AQE-skew-join fallback must produce exactly the window-path
    result (same distinct (id, h) substrate, same counts)."""
    rows = [
        (1, "a b c d e f g h i j k"),
        (2, "a b c d e f g h i j k extra words here"),
        (3, "totally different words one two three four five six seven"),
    ]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, ops.duplicate_span_stats(docs, n=8).collect()))
    b = sorted(
        map(
            tuple,
            ops.duplicate_span_stats(docs, n=8, skew_safe=True).collect(),
        )
    )
    assert a == b


def test_model_quality_scores_deterministic_and_null_safe(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "the quick brown fox jumps over the lazy dog"),
    ]
    out = {
        r["doc_id"]: r
        for r in ops.model_quality_scores(_docs(spark, rows)).collect()
    }
    # identical text -> identical features/score (hash weights, no RNG)
    assert tuple(out[1])[1:] == tuple(out[3])[1:]
    # empty doc: zero features, zero sum, score 0, gate passes (>= 0)
    assert (out[2]["n_features"], out[2]["weight_sum"]) == (0, 0)
    assert out[2]["model_score"] == 0.0 and out[2]["is_quality"]


def test_duplicate_span_stats_auto_dispatch(spark):
    """skew_safe=None probes the corpus and dispatches: boilerplate-
    heavy (every doc shares one span) -> aggregate+join form (no
    WindowExec); diverse corpus -> window form. Probe knobs shrunk so
    the pathology fits a unit test; dispatch never changes results."""
    from trino_adaptive_partitioning_tool_spark.plans import inspect

    boiler = "shared boilerplate one two three four five six seven eight"
    docs = _docs(spark, [(i, boiler) for i in range(40)])
    skewed = ops.duplicate_span_stats(docs, n=8, probe_mod=1, df_ceiling=10)
    # the shingle substrate always carries one per-id lead() window; the
    # doc-frequency stage is what dispatch swaps (count window vs
    # aggregate+equi-join), so compare window-node counts and require
    # the join in the skew-safe plan
    skew_plan = inspect.physical_plan(skewed)
    diverse = _docs(
        spark,
        [
            (
                i,
                f"a{i} b{i} c{i} d{i} e{i} f{i} g{i} h{i} i{i} j{i}",
            )
            for i in range(40)
        ],
    )
    windowed = ops.duplicate_span_stats(
        diverse, n=8, probe_mod=1, df_ceiling=10
    )
    win_plan = inspect.physical_plan(windowed)
    # the skew-safe form computes doc-frequency as an aggregate and
    # joins it back (self-join on h); the window form has no join at all
    joins = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert any(j in skew_plan for j in joins)
    assert not any(j in win_plan for j in joins)
    assert sorted(map(tuple, skewed.collect())) == sorted(
        map(
            tuple,
            ops.duplicate_span_stats(docs, n=8, skew_safe=True).collect(),
        )
    )


def test_model_quality_loader_uniform_and_empty_weights(spark):
    """Loader mechanics without hash hand-computation: a uniform 0.5
    weight on EVERY bucket makes weight_sum_micro exactly
    n_features * 500000; an empty weight frame scores everything 0."""
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "alpha beta alpha beta"),
    ]
    docs = _docs(spark, rows)
    uniform = spark.range(4096).select(
        F.col("id").cast("int").alias("bucket"),
        F.lit(0.5).alias("weight"),
    )
    out = {
        r["doc_id"]: r
        for r in ops.model_quality_scores_from_weights(
            docs, uniform
        ).collect()
    }
    for d in (1, 2, 3):
        assert (
            out[d]["weight_sum_micro"] == out[d]["n_features"] * 500000
        ), d
        assert out[d]["is_quality"]
    empty = uniform.where(F.lit(False))
    zeroed = ops.model_quality_scores_from_weights(docs, empty).collect()
    assert all(
        r["weight_sum_micro"] == 0 and r["model_score"] == 0.0
        for r in zeroed
    )


def test_model_quality_loader_reproduces_hash_standin(spark):
    """Feeding the loader the stand-in's OWN weight vector (exported as
    an external (bucket, weight) frame) must reproduce
    model_quality_scores exactly: same score, same gate, and
    weight_sum_micro == 1000 * weight_sum (the stand-in's integer
    weights are milli-units)."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators.dedup import md5_60

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark catalyst tungsten arrow parquet shuffle"),
        (3, ""),
    ]
    docs = _docs(spark, rows)
    standin_vec = spark.range(4096).select(
        F.col("id").cast("int").alias("bucket"),
        (
            (
                md5_60(F.concat(F.lit("wt|"), F.col("id").cast("string")))
                % 2001
                - 1000
            )
            / F.lit(1000.0)
        ).alias("weight"),
    )
    loaded = {
        r["doc_id"]: r
        for r in ops.model_quality_scores_from_weights(
            docs, standin_vec
        ).collect()
    }
    standin = {
        r["doc_id"]: r for r in ops.model_quality_scores(docs).collect()
    }
    for d in standin:
        assert loaded[d]["n_features"] == standin[d]["n_features"]
        assert (
            loaded[d]["weight_sum_micro"]
            == standin[d]["weight_sum"] * 1000
        )
        assert loaded[d]["model_score"] == standin[d]["model_score"]
        assert loaded[d]["is_quality"] == standin[d]["is_quality"]


def test_minhash_signature_expr_matches_batch_operator(spark):
    """The stateless per-row signature (streaming path) must equal the
    batch window/groupBy operator's signature value-for-value."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import dedup as dops

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "short doc"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    docs = _docs(spark, rows)
    batch = {
        r["id"]: r["minhash"]
        for r in dops.minhash_signatures(docs).collect()
    }
    streaming_form = {
        r["id"]: r["minhash"]
        for r in docs.select(
            F.col("doc_id").alias("id"),
            dops.minhash_signature_expr("text").alias("minhash"),
        ).collect()
    }
    assert batch == streaming_form


def test_annotator_column_api_matches_frame_api(spark):
    """r13: the funnels inline the language/quality annotators via the
    column-level API (predicted_lang_col / quality_score_col) instead of
    joining the frame-level annotators back on doc_id — this pins the
    two APIs value-identical on edge-case texts (empty, whitespace-only
    padding, punctuation-heavy, marker ties, CJK markers)."""
    rows = [
        (1, "the cat and the dog is that a cat"),
        (2, "el la de que y los las por"),
        (3, ""),
        (4, "der die das und ist nicht!!! ein mit, der der"),
        (5, "one"),
        (6, "的 是 了 在 我"),
        (7, "  padded   whitespace  text  . . ."),
        (8, "a a a a a a a a a a a a a a a a a a a a a a a a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    frame_q = {
        r["doc_id"]: r["quality_score"]
        for r in ops.quality_scores(docs).collect()
    }
    inline_q = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", ops.quality_score_col("text").alias("q")
        ).collect()
    }
    assert frame_q == inline_q
    frame_l = {
        r["doc_id"]: r["predicted_lang"]
        for r in ops.language_id(docs).collect()
    }
    inline_l = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", ops.predicted_lang_col("text").alias("p")
        ).collect()
    }
    assert frame_l == inline_l


def test_duplicate_span_stats_branch_parity_at_sf01(spark):
    """r9 (verdict #7): both doc-frequency branches — COUNT window vs
    aggregate+equi-join — hash-identical over the REAL sf0.1 corpus,
    not just unit fixtures (600x the smoke scale; the dispatch probe's
    operating domain). Skipped silently nowhere: sf0.1 is generated by
    the driver every round."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    a = ops.duplicate_span_stats(docs, n=8, skew_safe=False)
    b = ops.duplicate_span_stats(docs, n=8, skew_safe=True)
    import hashlib

    def canon_hash(df):
        rows = sorted(
            (int(r["doc_id"]), int(r["n_spans"]), int(r["n_shared_spans"]),
             f"{r['shared_span_ratio']:.6f}")
            for r in df.collect()
        )
        return hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)

    ha, na = canon_hash(a)
    hb, nb = canon_hash(b)
    assert na == nb > 0
    assert ha == hb


def test_span_skew_probe_exact_dispatch_boundary(spark):
    """The probe dispatches strictly PAST the ceiling: extrapolated
    max doc-frequency == df_ceiling stays on the window form; one more
    sharing document flips to the skew-safe join. Results identical on
    both sides of the boundary (the dispatch guarantee)."""
    boiler = "shared boilerplate one two three four five six seven eight"

    def corpus(n_sharing):
        rows = [(i, boiler) for i in range(n_sharing)] + [
            (1000 + i, f"u{i} v{i} w{i} x{i} y{i} z{i} p{i} q{i} r{i}")
            for i in range(5)
        ]
        return _docs(spark, rows)

    at = corpus(10)      # max_df * probe_mod == 10 == ceiling
    past = corpus(11)    # 11 > 10
    assert ops._span_skew_probe(
        at, 8, "doc_id", "text", probe_mod=1, df_ceiling=10
    ) is False
    assert ops._span_skew_probe(
        past, 8, "doc_id", "text", probe_mod=1, df_ceiling=10
    ) is True
    # the flip never changes results
    for docs in (at, past):
        assert sorted(
            map(tuple, ops.duplicate_span_stats(
                docs, n=8, skew_safe=False).collect())
        ) == sorted(
            map(tuple, ops.duplicate_span_stats(
                docs, n=8, skew_safe=True).collect())
        )
