"""Corpus preprocessing funnel: the end-to-end training-data filter
pipeline as ONE query.

Real LLM corpus preparation is a SEQUENCE of filters — language check,
quality score, repetition cut, exact dedup, near-dedup — and what
matters operationally is the ATTRITION at each stage (how many documents
and tokens survive). This query composes the engine's own operators
(language_id, quality_scores, repetition_stats, keep-canonical,
MinHash-LSH → exact-Jaccard verify → connected components) into that
funnel and reports one row per stage:

    (stage_idx, stage, n_docs, n_tokens)

Both registered funnels come from one ordered stage list: the extended
funnel adds a model-quality gate before exact dedup and a span-level
dedup cut after near dedup. One Spark builder and one oracle builder
walk the list.

The oracle nests the REGISTERED sub-oracles verbatim (language, quality,
repetition — each already hash-green), chains the same filters in SQL,
replays the minhash sketch over the filtered CTE (the `source` parameter
of the sig CTEs), and closes near-dup clusters with a recursive CTE — so
one digest row certifies the whole pipeline composition, not just its
parts.

Scale shape: every stage is a filter or equi-join keyed on doc_id/text
(shuffle-safe); pair generation runs over the gate SURVIVORS only (the
standard pipeline order — dedup last, on the already-shrunk corpus), and
clustering goes through the size-adaptive connected components.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import accumulate
from operator import and_

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as dops
from ..operators import graph
from ..operators import text as tops
from ..operators.dedup import TOKENS_SQL, tokens_expr
from ..sources import tables
from . import dedup as qdedup
from .registry import register

QUALITY_MIN = 37.0
REPETITION_MAX = 0.08
JACCARD_MIN = 0.7
SPAN_RATIO_MAX = 0.35
SPAN_STAGE_N = 3  # trigram spans: post-dedup survivors share no 8-gram
# spans at parity scale, so the stage would be a no-op there; trigram
# granularity makes the cut observable (and therefore certified) while
# the operator itself defaults to n=8 for production corpora

_STAGES = (
    "input",
    "lang_consistent",
    "quality",
    "repetition",
    "exact_dedup",
    "near_dedup",
)
# the model-quality gate (hashed linear classifier, weight_sum >= 0)
# before dedup, and the span-level dedup cut (cross-document
# duplicated-span ratio over the near-dedup SURVIVORS) after it
_EXT_STAGES = _STAGES[:4] + ("model_quality",) + _STAGES[4:] + ("span_dedup",)


def stage_counts(
    df: DataFrame,
    stages: Sequence[tuple[str, Column]],
    count: str,
    tokens: str | None = None,
    idx_type: str = "bigint",
) -> DataFrame:
    """One row per (stage name, boolean flag), in order, from a single
    aggregate over df: (stage_idx, stage, <count>[, <tokens>]), where
    <count> counts the rows whose flag is true (a null flag counts as
    dropped) and <tokens> sums df's `tokens` column over them."""
    aggs, legs = [], []
    for i, (name, flag) in enumerate(stages):
        aggs.append(
            F.sum(F.when(flag, 1).otherwise(0)).cast("bigint").alias(f"n{i}")
        )
        leg = f"CAST({i} AS {idx_type}), '{name}', n{i}"
        if tokens:
            aggs.append(
                F.coalesce(F.sum(F.when(flag, F.col(tokens))), F.lit(0))
                .cast("bigint")
                .alias(f"t{i}")
            )
            leg += f", t{i}"
        legs.append(leg)
    out = ", ".join(["stage_idx", "stage", count] + ([tokens] if tokens else []))
    return df.agg(*aggs).selectExpr(
        f"stack({len(legs)}, {', '.join(legs)}) AS ({out})"
    )


def _oracle_stage(name: str, prev: str) -> tuple[list[str], str]:
    """The helper CTEs a stage needs and the SELECT of its survivors
    from the previous stage's CTE `prev`."""
    from . import registry as _registry
    from .text import _model_weight_sum_sql, _ngram_hash_cte

    def sub(query: str) -> str:
        return _registry._ORACLES[query]

    keep = f"SELECT p.* FROM {prev} p"
    if name == "lang_consistent":
        return [
            f"langp AS (SELECT doc_id, predicted_lang"
            f" FROM ({sub('text_language_id')}) q)"
        ], f"{keep} JOIN langp l USING (doc_id) WHERE l.predicted_lang = p.lang"
    if name == "quality":
        return [
            f"quals AS (SELECT doc_id, quality_score"
            f" FROM ({sub('text_quality_scores')}) q)"
        ], f"{keep} JOIN quals USING (doc_id) WHERE quality_score >= {QUALITY_MIN}"
    if name == "repetition":
        return [
            f"reps AS (SELECT doc_id, dup_bigram_ratio"
            f" FROM ({sub('text_repetition_stats')}) q)"
        ], (
            f"{keep} LEFT JOIN reps USING (doc_id)"
            f" WHERE COALESCE(dup_bigram_ratio, 0.0) <= {REPETITION_MAX}"
        )
    if name == "model_quality":
        return [
            f"mq AS (SELECT doc_id, {_model_weight_sum_sql(TOKENS_SQL)} AS weight_sum"
            f" FROM documents)"
        ], f"{keep} JOIN mq USING (doc_id) WHERE weight_sum >= 0"
    if name == "exact_dedup":
        return [], (
            f"{keep} JOIN (SELECT text, MIN(doc_id) AS mn FROM {prev} GROUP BY text) c"
            f" ON p.text = c.text AND p.doc_id = c.mn"
        )
    if name == "near_dedup":
        # MATERIALIZED sketch: the 16 banded legs would otherwise
        # re-execute it per reference. Applied per fragment: "sig" is
        # shadowed inside the nested quality sub-oracle, and a global
        # replace trips DuckDB's duplicate-alias binder check.
        jac = (
            "ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)"
            " / len(list_distinct(list_concat(ta.toks, tb.toks))), 4)"
        )
        return [
            qdedup._minhash_sig_ctes(source=prev, prefix="m").replace(
                "msig AS (", "msig AS MATERIALIZED ("),
            qdedup._minhash_banded_cte(source="msig").replace(
                "banded AS (", "banded AS MATERIALIZED ("),
            f"""cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    dtok AS MATERIALIZED (SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents),
    verified AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN dtok ta ON ta.doc_id = c.id_a
      JOIN dtok tb ON tb.doc_id = c.id_b
      WHERE {jac} >= {JACCARD_MIN}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach(node, root) AS (
      SELECT DISTINCT src AS node, src AS root FROM edges
      UNION
      SELECT e.dst AS node, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS MATERIALIZED (SELECT node, MIN(root) AS rep FROM reach GROUP BY node)""",
        ], (
            f"{keep} LEFT JOIN labels ON p.doc_id = labels.node"
            f" WHERE labels.node IS NULL OR labels.rep = p.doc_id"
        )
    assert name == "span_dedup", name
    return [
        _ngram_hash_cte(SPAN_STAGE_N, source=prev, prefix="sp_").replace(
            "sp_e AS (", "sp_e AS MATERIALIZED ("),
        "sp_df AS (SELECT h, COUNT(*) AS ndocs FROM sp_e GROUP BY h)",
        """sp_ratio AS (
      SELECT e.doc_id,
             CAST(ROUND(CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE) AS VARCHAR)::DECIMAL(38,12), 6)
               AS DOUBLE) AS ratio
      FROM sp_e e JOIN sp_df USING (h)
      GROUP BY e.doc_id
    )""",
    ], (
        f"{keep} LEFT JOIN sp_ratio r ON p.doc_id = r.doc_id"
        f" WHERE r.doc_id IS NULL OR r.ratio <= {SPAN_RATIO_MAX}"
    )


def _funnel_oracle(stages: Sequence[str]) -> str:
    """The funnel as one DuckDB CTE chain: stage i's survivors are CTE
    s{i}, selected from s{i-1}; one count leg per stage."""
    ctes = [
        f"base AS (SELECT doc_id, lang, text, len({TOKENS_SQL}) AS n_tokens"
        f" FROM documents)"
    ]
    prev = "base"
    for i, name in enumerate(stages[1:], 1):
        helpers, survivors = _oracle_stage(name, prev)
        # MATERIALIZED: every survivor CTE is read by the next stage and
        # by its count leg, and DuckDB inlines a CTE per reference, so
        # the whole chain up to the sketch would re-execute per leg
        # (measured 49 s -> 0.5 s at sf0.01). Execution hint only.
        ctes += helpers + [f"s{i} AS MATERIALIZED ({survivors})"]
        prev = f"s{i}"
    legs = "\nUNION ALL\n".join(
        f"SELECT {i} AS stage_idx, '{name}' AS stage,"
        f" COUNT(*) AS n_docs,"
        f" CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens"
        f" FROM {'s' + str(i) if i else 'base'}"
        for i, name in enumerate(stages)
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH RECURSIVE {chain}
    SELECT * FROM (
    {legs}
    ) funnel ORDER BY stage_idx
    """


def _exact_dedup(s: DataFrame) -> tuple[DataFrame, Column]:
    # canonical = lowest doc_id per text (rank-1 window per text)
    w = Window.partitionBy("text").orderBy("doc_id")
    return s.withColumn("rn", F.row_number().over(w)), F.col("rn") == 1


def _near_dedup(s: DataFrame) -> tuple[DataFrame, Column]:
    cands = dops.minhash_lsh_pairs(
        s.select("doc_id", "text"), jaccard_threshold=0.0
    ).select("id_a", "id_b")
    verified = dops.token_jaccard_pairs(
        s.select("doc_id", "text"), cands, threshold=JACCARD_MIN
    ).select("id_a", "id_b")
    comp = graph.connected_components(verified, "id_a", "id_b")
    non_reps = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("is_dup")
    )
    # No broadcast hint: non_reps is proportional to the duplicate count
    # (30-50 % of a web corpus), i.e. corpus-scale — let AQE broadcast
    # only when it actually fits.
    return (
        s.join(non_reps, "doc_id", "left"),
        F.coalesce(~F.col("is_dup"), F.lit(True)),
    )


def _span_dedup(s: DataFrame) -> tuple[DataFrame, Column]:
    # skew_safe pinned False: the span stage runs over near-dedup
    # SURVIVORS (boilerplate documents largely removed), and the
    # composed pipeline wants a build-time-action-free, stable plan
    spans = tops.duplicate_span_stats(
        s.select("doc_id", "text"), n=SPAN_STAGE_N, skew_safe=False
    ).select("doc_id", "shared_span_ratio")
    ratio = F.col("shared_span_ratio")
    return (
        s.join(spans, "doc_id", "left"),
        ratio.isNull() | (ratio <= SPAN_RATIO_MAX),
    )


_DEDUP = {
    "exact_dedup": _exact_dedup,
    "near_dedup": _near_dedup,
    "span_dedup": _span_dedup,
}


def _funnel(spark: SparkSession, sf_dir: str, stages: Sequence[str]) -> DataFrame:
    """Per-stage document/token attrition of `stages` (see the module
    docstring). Stage i's survival is the boolean column ok{i}; the
    counts come from one conditional aggregate over the annotated
    corpus instead of one leg per stage re-running the filter chain."""
    docs = tables.load_table(spark, sf_dir, "documents")
    # Language, quality and model quality are column expressions over
    # the text, computed in the one annotated projection. Repetition is
    # aggregation-based, so it stays a left join (its map-only array
    # form measured 2.4x slower — see operators/text.repetition_stats);
    # left, so stage 0 is the whole corpus.
    reps = tops.repetition_stats(docs).select("doc_id", "dup_bigram_ratio")
    gate = {
        "lang_consistent": lambda: F.col("predicted_lang") == F.col("lang"),
        "quality": lambda: F.col("quality_score") >= QUALITY_MIN,
        "repetition": lambda: (
            F.coalesce(F.col("dup_bigram_ratio"), F.lit(0.0)) <= REPETITION_MAX
        ),
        "model_quality": lambda: tops.model_weight_sum_col("text") >= 0,
    }
    # gates are per-document predicates, evaluated in one annotated
    # pass; from the first dedup stage on, each stage reads the
    # survivors of the stage before it
    n_gated = next(i for i, name in enumerate(stages) if name in _DEDUP)
    oks = accumulate((gate[name]() for name in stages[1:n_gated]), and_)
    gate_flags = [ok.alias(f"ok{i}") for i, ok in enumerate(oks, 1)]
    ann = (
        # spreads the annotator projection when the scan cannot
        # (single-row-group local files); a no-op on well-split inputs
        dops.ensure_parallelism(docs)
        .select(
            "doc_id", "lang", "text",
            F.size(tokens_expr("text")).cast("bigint").alias("n_tokens"),
            tops.predicted_lang_col("text").alias("predicted_lang"),
            tops.quality_score_col("text").alias("quality_score"),
        )
        .join(reps, "doc_id", "left")
        .select("doc_id", "text", "n_tokens", *gate_flags)
        # MEMORY_AND_DISK: the survivor chain and the final aggregate
        # both read this frame, which is corpus-sized AND carries the
        # text payload, so MEMORY_ONLY eviction at scale would re-run
        # both annotators per consumer (the exact cost the persist
        # exists to kill). `text` cannot be projected out: the dedup
        # stages consume it (window partition key + minhash input); the
        # flags-only alternative re-attaches text with an extra
        # doc-grain join + corpus scan.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Each dedup stage reads the persisted survivors of the stage before
    # it: chain[k] survives stage n_gated - 1 + k.
    chain = [ann.where(f"ok{n_gated - 1}")]
    for name in stages[n_gated:-1]:
        joined, keep = _DEDUP[name](chain[-1])
        chain.append(
            joined.where(keep)
            .select(*chain[-1].columns)
            # read by the next stage's pair or span generation, its
            # flag join and the final aggregate — one materialization
            # (memo keeps the plan, so the cache is hit on every call).
            # MEMORY_AND_DISK: survivor-sized but text-carrying — spill,
            # don't evict.
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    # The last stage's joined frame already holds its input's survivors,
    # so it carries the last two flags in one join.
    joined, keep = _DEDUP[stages[-1]](chain[-1])
    last = len(stages) - 1
    flag_frames = [
        s.select("doc_id", F.lit(True).alias(f"ok{i}"))
        for i, s in enumerate(chain[1:-1], n_gated)
    ] + [
        joined.select(
            "doc_id", F.lit(True).alias(f"ok{last - 1}"), keep.alias(f"ok{last}")
        )
    ]
    final = ann
    for flags in flag_frames:
        final = final.join(flags, "doc_id", "left")
    # a document missing from a dedup stage's flag frame has a null
    # flag, which stage_counts counts as dropped
    return stage_counts(
        final,
        [("input", F.lit(True))]
        + [(stages[i], F.col(f"ok{i}")) for i in range(1, len(stages))],
        count="n_docs",
        tokens="n_tokens",
        idx_type="int",
    ).orderBy("stage_idx")


@register("corpus_filter_funnel", oracle=_funnel_oracle(_STAGES), memo=True)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage document/token attrition of the six-stage preprocessing
    funnel (see module docstring). Composes only already-verified
    operators; the oracle replays the identical chain in SQL, including
    the minhash sketch over survivors and a recursive-CTE closure for
    the near-dup clusters."""
    return _funnel(spark, sf_dir, _STAGES)


@register(
    "corpus_filter_funnel_extended",
    oracle=_funnel_oracle(_EXT_STAGES),
    memo=True,
)
def corpus_filter_funnel_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six-stage funnel plus a model-quality gate
    (hashed-linear-classifier weight_sum >= 0, map-only) before dedup,
    and a span-level dedup cut (cross-document duplicated-span ratio
    over the NEAR-DEDUP SURVIVORS <= SPAN_RATIO_MAX = 0.35) after it —
    the full eight-stage corpus curation pipeline, composed exclusively
    from individually-oracled operators, certified end to end as one
    row per stage."""
    return _funnel(spark, sf_dir, _EXT_STAGES)
