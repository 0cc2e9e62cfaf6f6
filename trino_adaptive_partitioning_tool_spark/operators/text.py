"""Text-analysis operators for LLM-training-data pipelines (extensions).

All hot paths are JVM-side `pyspark.sql.functions` expressions — no
Python UDFs: these run per-document over the full corpus, exactly where a
row-at-a-time UDF would dominate cost at 100 TB.

  token_stats        whitespace + regex token counting, char stats
  quality_scores     length / punctuation / stopword / repetition ratios
                     → composite 0-100 quality score
  language_id        stopword-profile n-gram heuristic over a per-language
                     marker list (deterministic, data-independent)
  fingerprints       md5 content fingerprint + winnowing-style rolling
                     shingle-hash fingerprint for containment checks
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_60, shingles_expr, tokens_expr

# small function-word marker lists per language (public common words)
LANGUAGE_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "por"),
    "fr": ("le", "la", "les", "des", "et", "que", "une", "dans"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这"),
}

STOPWORDS = LANGUAGE_MARKERS["en"]


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    toks = tokens_expr(text_col)
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("char_count"),
        F.size(toks).cast("bigint").alias("token_count"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("distinct_tokens"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def _ratio(num: Column, den: Column) -> Column:
    return F.round(num / F.greatest(den, F.lit(1).cast("double")), 4)


def quality_signal_cols(text_col: str = "text") -> dict[str, Column]:
    """The four quality signals as pure column expressions (r13: the
    annotator's column-level API, so pipeline queries can compute them
    inline instead of joining a quality_scores() projection back on
    doc_id — guide §2.4, remove shuffles/joins outright). Single source
    of truth: quality_scores() builds from exactly these columns."""
    toks = tokens_expr(text_col)
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    )
    n_punct = (
        F.length(text_col)
        - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    ).cast("double")
    n_char = F.length(text_col).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tok, F.lit(1.0)
    )
    length_score = F.least(n_tok / F.lit(200.0), F.lit(1.0))
    return {
        "stopword_ratio": _ratio(n_stop, n_tok),
        "punct_ratio": _ratio(n_punct, n_char),
        "repetition_ratio": F.round(1.0 - distinct_ratio, 4),
        "length_score": F.round(length_score, 4),
    }


def quality_score_col(text_col: str = "text") -> Column:
    """The 0-100 quality composite as one column expression — identical
    arithmetic to quality_scores()'s quality_score column (it is built
    from the same quality_signal_cols expressions)."""
    sig = quality_signal_cols(text_col)
    return F.round(
        sig["stopword_ratio"] * 40
        + (1.0 - sig["punct_ratio"]) * 20
        + (1.0 - sig["repetition_ratio"]) * 20
        + sig["length_score"] * 20,
        2,
    )


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality profile + 0-100 composite.

    Signals (all cheap column expressions):
      stopword_ratio   share of tokens that are common function words
      punct_ratio      punctuation chars / total chars
      repetition_ratio 1 - distinct/total tokens (near-1 = loopy text)
      length_score     saturating credit for longer documents
    composite = 40*stopword + 20*(1-punct) + 20*(1-repetition)
              + 20*length_score  (echoes the reference's weighted
              composite style, src/partitioning.py:159-164)
    """
    sig = quality_signal_cols(text_col)
    out = docs.select(
        F.col(id_col),
        sig["stopword_ratio"].alias("stopword_ratio"),
        sig["punct_ratio"].alias("punct_ratio"),
        sig["repetition_ratio"].alias("repetition_ratio"),
        sig["length_score"].alias("length_score"),
    )
    return out.withColumn(
        "quality_score",
        F.round(
            F.col("stopword_ratio") * 40
            + (1.0 - F.col("punct_ratio")) * 20
            + (1.0 - F.col("repetition_ratio")) * 20
            + F.col("length_score") * 20,
            2,
        ),
    )


def language_best_col(text_col: str = "text") -> Column:
    """The language argmax as one struct column (fields: neg_hits, lang,
    hits) — language_id()'s core expression exposed so pipelines can
    inline the prediction instead of joining the annotator frame back
    on doc_id (guide §2.4)."""
    toks = F.array_distinct(tokens_expr(text_col))

    def _hits(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.array_intersect(toks, arr)).cast("bigint")

    scores = [
        F.struct(_hits(markers).alias("hits"), F.lit(lang).alias("lang"))
        for lang, markers in sorted(LANGUAGE_MARKERS.items())
    ]
    # array_max on struct(hits, lang) orders by hits then lang; we want
    # ties to pick the FIRST lang, so invert: take max of (hits, reversed
    # rank) — simpler: sort desc by hits asc by lang via sort_array on
    # (negated hits, lang), take element 1.
    return F.sort_array(
        F.array(
            *[
                F.struct(
                    (-s["hits"]).alias("neg_hits"), s["lang"].alias("lang"),
                    s["hits"].alias("hits"),
                )
                for s in scores
            ]
        )
    )[0]


def predicted_lang_col(text_col: str = "text") -> Column:
    """predicted_lang as a pure column expression (see language_best_col)."""
    return language_best_col(text_col)["lang"]


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-profile language guess: count marker-word hits per
    language, pick the argmax (ties → lexicographically first language —
    deterministic). Returns (id, predicted_lang, marker_hits)."""
    best = language_best_col(text_col)
    return docs.select(
        F.col(id_col),
        best["lang"].alias("predicted_lang"),
        best["hits"].alias("marker_hits"),
    )


def fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 4,
    keep_every: int = 8,
) -> DataFrame:
    """Document fingerprints:
      content_md5   md5 of normalized text (exact-dup key)
      winnow_fp     sorted array of selected shingle hashes (hash % keep
                    == 0 — a winnowing-style deterministic sample) for
                    containment / overlap estimation

    Hashes are md5_60 (60-bit md5-prefix ints), so the fingerprints are
    bit-for-bit reproducible in DuckDB and oracle-checked.
    """
    from .dedup import ensure_parallelism

    docs = ensure_parallelism(docs)
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    sh = shingles_expr(tokens_expr(text_col), shingle_k)
    hashes = F.transform(sh, lambda s: md5_60(s))
    winnow = F.sort_array(
        F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_every)) == 0)
    )
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("content_md5"),
        winnow.alias("winnow_fp"),
        F.size(winnow).cast("bigint").alias("winnow_size"),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval over the corpus (Robertson/Sparck Jones
    idf: ln(1 + (N - df + 0.5)/(df + 0.5))).

    Entirely relational — explode -> two aggregations -> joins -> score
    arithmetic — so Catalyst partial-aggregates the term counts map-side
    and the only shuffles are the groupBys on (doc, term) and doc. Corpus
    constants (N, avgdl) travel as 1-row broadcast crossJoins, never via
    a driver collect. At 100 TB this is the standard inverted-score
    pattern: cost is one pass over tokens + joins on the (tiny) matched
    subset.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    tf = (
        toks.where(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .groupBy(id_col)
        .agg(F.sum(idf * tf_norm).alias("score"))
    )


def ngram_hashes(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """(id, h): md5_60 hashes of every n-token shingle, deduped per
    document by default.

    The shingle stream is built with posexplode + lead() windows (the
    codegen'd form — see minhash_signatures for why the higher-order
    array-expression form is off the hot path), hashed once per shingle.
    Documents shorter than n tokens emit no rows. This is the shared
    substrate for containment / contamination checks. `distinct=False`
    skips the dedup EXCHANGE — consumers whose aggregation is already
    distinct-aware (countDistinct downstream) should pass it: the window
    has partitioned the stream by id, so a following groupBy(id) then
    needs no further shuffle at all."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "token"),
    ).where(F.col("token") != "")
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("token")] + [
        F.lead("token", i).over(w) for i in range(1, n)
    ]
    out = toks.select(
        "id",
        F.when(
            F.lead("token", n - 1).over(w).isNotNull(),
            md5_60(F.concat_ws(" ", *parts)),
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    return out.distinct() if distinct else out


def decontamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination report: for every training document that
    shares at least one n-gram with the benchmark set, the count of
    overlapping n-grams, its total n-grams, the overlap ratio, and how
    many distinct benchmark docs it collides with.

    This is the standard pre-training decontamination primitive (n-gram
    collision against held-out eval sets). The train side's DISTINCT
    (id, h) stream is scanned ONCE: a broadcast LEFT join against the
    (eval-set-sized) benchmark hashes marks collisions, and a single
    groupBy derives totals, overlap and bench-doc counts together — no
    second pass over the corpus, no |train| x |benchmark| product. The
    countDistinct on h corrects for h matching multiple benchmark
    docs."""
    # distinct=False on the train side: the countDistinct aggregates
    # below already implement set semantics, so the dedup exchange would
    # be pure overhead on the corpus-sized stream
    t = ngram_hashes(train, n, id_col, text_col, distinct=False)
    b = ngram_hashes(benchmark, n, id_col, text_col).withColumnRenamed(
        "id", "bench_id"
    )
    j = t.join(F.broadcast(b), "h", "left")
    return (
        j.groupBy("id")
        .agg(
            F.count_distinct("h").alias("n_ngrams"),
            F.count_distinct(
                F.when(F.col("bench_id").isNotNull(), F.col("h"))
            ).alias("n_overlap"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
        .where(F.col("n_overlap") > 0)
        .select(
            F.col("id").alias(id_col),
            "n_overlap",
            "n_ngrams",
            F.round(
                F.col("n_overlap") / F.col("n_ngrams").cast("double"), 6
            ).alias("overlap_ratio"),
            "n_bench_docs",
        )
    )


def model_weight_sum_col(text_col: str = "text", n_buckets: int = 4096) -> Column:
    """Integer hashed-feature weight sum of model_quality_scores as a
    standalone Column — pipeline stages (the extended corpus funnel)
    apply the model gate (weight_sum >= 0) without materializing the
    full score frame. Exact by construction (integer sum)."""

    def _weight(tok: Column) -> Column:
        bucket = md5_60(F.concat(F.lit("qw|"), tok)) % n_buckets
        return (
            md5_60(F.concat(F.lit("wt|"), bucket.cast("string"))) % 2001
        ) - 1000

    feats = F.transform(F.array_distinct(tokens_expr(text_col)), _weight)
    return F.aggregate(feats, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def model_quality_scores(
    docs: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classifier-style quality filtering plumbing: hashed bag-of-words
    features → linear score → keep gate, the fastText-shaped
    model-based filter of pretraining pipelines (CCNet et al.). The
    per-bucket weights here are a DETERMINISTIC hash-derived stand-in —
    the documented seam where a trained model's weight vector would
    load; the dataflow (feature hashing, linear scoring, thresholding)
    is the production shape and is what this operator tests.

    Exactness by construction: per-token weights are INTEGERS in
    [-1000, 1000] (hash of the feature bucket), so the feature sum is
    exact in any evaluation order on any engine; the only float ops are
    one sqrt (IEEE correctly-rounded) and one division — which is why
    the DuckDB oracle can hash-match the score to 6 decimals. Map-only:
    pure column expressions above the scan, no shuffle, no UDF."""
    toks = F.array_distinct(tokens_expr(text_col))
    wsum = model_weight_sum_col(text_col, n_buckets)
    n = F.size(toks)
    score = F.round(
        wsum
        / (F.lit(1000.0) * F.sqrt(F.greatest(n, F.lit(1)).cast("double"))),
        6,
    )
    return docs.select(
        F.col(id_col),
        n.cast("bigint").alias("n_features"),
        wsum.alias("weight_sum"),
        score.alias("model_score"),
        (wsum >= 0).alias("is_quality"),
    )


def model_quality_scores_from_weights(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """model_quality_scores with an EXTERNAL trained weight vector — the
    loader behind the model seam. `weights` is a (bucket, weight)
    DataFrame: bucket in [0, n_buckets), weight any numeric (a trained
    linear / fastText-style classifier exported per hashed feature
    bucket); buckets must be unique. Same featurizer as the hash
    stand-in (md5-bucketed distinct tokens), so the two paths score the
    same feature vector.

    Exactness: weights are canonicalized to DECIMAL(18,6) and scaled to
    integer MICRO-UNITS, so the per-document feature sum is an exact
    bigint in any accumulation order on any engine (the same
    order-independence argument as the integer stand-in); the only
    float ops are the final sqrt and division.

    Scale shape: the weight frame is aggregated to ONE row holding a
    bucket->weight map and broadcast — model-sized (<= n_buckets
    entries; a 2^21-dim fastText hash space is ~16 MB), bounded by the
    model dimension, never by the corpus. Scoring stays map-only above
    the corpus scan: no explode, no join shuffle, no UDF."""
    wmap_row = (
        weights.select(
            F.col("bucket").cast("int").alias("bucket"),
            (F.col("weight").cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .alias("w_micro"),
        )
        .agg(
            F.map_from_arrays(
                F.collect_list("bucket"), F.collect_list("w_micro")
            ).alias("wmap")
        )
    )

    def _w(tok: Column) -> Column:
        bucket = (md5_60(F.concat(F.lit("qw|"), tok)) % n_buckets).cast("int")
        return F.coalesce(
            F.element_at(F.col("wmap"), bucket), F.lit(0).cast("bigint")
        )

    toks = F.array_distinct(tokens_expr(text_col))
    wsum = F.aggregate(
        F.transform(toks, _w), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    n = F.size(toks)
    score = F.round(
        wsum
        / (
            F.lit(1000000.0)
            * F.sqrt(F.greatest(n, F.lit(1)).cast("double"))
        ),
        6,
    )
    return docs.crossJoin(F.broadcast(wmap_row)).select(
        F.col(id_col),
        n.cast("bigint").alias("n_features"),
        wsum.alias("weight_sum_micro"),
        score.alias("model_score"),
        (wsum >= 0).alias("is_quality"),
    )


# span-skew probe defaults: sample 1/_SPAN_PROBE_MOD of documents by id
# hash; if the extrapolated max span doc-frequency exceeds the ceiling
# (the rough row count one WindowExec task should own), dispatch to the
# aggregate+join form AQE can skew-split
_SPAN_PROBE_MOD = 100
_SPAN_DF_CEILING = 1_000_000


def _span_skew_probe(
    docs: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    probe_mod: int = _SPAN_PROBE_MOD,
    df_ceiling: int = _SPAN_DF_CEILING,
) -> bool:
    """Cheap pre-probe for boilerplate-span skew: shingle a
    deterministic 1/probe_mod hash-sample of documents and extrapolate
    the max span doc-frequency. A span shared by millions of documents
    lands in any doc sample with near-certainty, so the probe catches
    exactly the pathological profile while costing one pass over the
    sample (filter pushed below the shingling). Deterministic (Murmur3
    id hash, no RNG): the same corpus always dispatches the same way."""
    # pmod, not abs-then-mod: JVM abs(Integer.MIN_VALUE) stays negative,
    # which would silently drop a MIN_VALUE-hashing row from the sample
    sample = docs.where(F.pmod(F.hash(F.col(id_col)), F.lit(probe_mod)) == 0)
    row = (
        ngram_hashes(sample, n, id_col, text_col, distinct=True)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("m"))
        .first()
    )
    max_df = row["m"] or 0
    return max_df * probe_mod > df_ceiling


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    skew_safe: bool | None = None,
    probe_mod: int = _SPAN_PROBE_MOD,
    df_ceiling: int = _SPAN_DF_CEILING,
) -> DataFrame:
    """CROSS-document duplicated-span fraction. NOTE: the default
    ``skew_safe=None`` runs an EAGER skew-probe Spark job at
    DataFrame-construction time (plan shape becomes data-dependent);
    pass an explicit bool to keep construction lazy and the plan pinned.

    Per document, the share
    of its distinct n-token spans that also occur in at least one OTHER
    document — the span-level dedup signal of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"),
    approximated at shingle granularity instead of suffix arrays (the
    distributed-friendly form: every step is an equi-join on the span
    hash). Complements repetition_stats, which is within-document only.

    Returns (id, n_spans, n_shared_spans, shared_span_ratio); documents
    shorter than n tokens emit no row.

    Scale shape: one shuffle of the (id, h) stream by h, one
    groupBy(id); span hashes are corpus-scale but never collected or
    broadcast. Window path annotates each (id, h) row with its span's
    doc-frequency via an unordered COUNT window over h — no join, ~3x
    faster than aggregate-then-join at sf0.1. WindowExec buffers one
    h-group at a time (spillable), so a boilerplate span shared by
    millions of documents makes one long task; the aggregate + equi-join
    form (``skew_safe=True``) trades the window for a join AQE can
    skew-split. ``skew_safe=None`` (default) AUTO-DISPATCHES via
    _span_skew_probe: a deterministic hash-sample of documents
    extrapolates the max span doc-frequency, choosing the safe form
    when one window task would own more than ``df_ceiling`` rows. The
    probe costs one sample-sized job at plan-build time; pass an
    explicit bool to skip it (pipelines pin their plan shape this way).
    Both paths produce identical rows (integer counts), so dispatch
    never changes results."""
    from pyspark.sql import Window

    if skew_safe is None:
        skew_safe = _span_skew_probe(
            docs, n, id_col, text_col, probe_mod, df_ceiling
        )
    h = ngram_hashes(docs, n, id_col, text_col, distinct=True)
    if skew_safe:
        dfreq = h.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
        ann = h.join(dfreq, "h")
    else:
        ann = h.withColumn(
            "ndocs", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
    return (
        ann.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_spans"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_shared_spans",
            F.round(
                F.col("n_shared_spans") / F.col("n_spans").cast("double"), 6
            ).alias("shared_span_ratio"),
        )
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals over bigrams:
    duplicate-bigram fraction (1 - distinct/total) and the share of the
    single most frequent bigram. Token-count variant of the
    duplicate-n-gram character fractions in Rae et al. 2021 (Gopher),
    documented deviation: fractions count bigram OCCURRENCES, not
    characters. One explode + two aggregations, all map-side partial.

    r13 note (measured, kept as-is): a fully map-only variant (bigram
    ARRAY per row + array_distinct/sorted-run-length expressions —
    dup_bigram_ratio_col's shape) removes the corpus-wide window
    shuffle but runs on Spark's INTERPRETED higher-order-function path
    and measured 2.4x slower end-to-end at sf0.1 (0.44s -> 1.06s noop);
    the codegen'd window + partial aggregates win despite the exchange,
    the same trade the minhash signature operator documents."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "token"),
    ).where(F.col("token") != "")
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = toks.select(
        "id",
        F.when(
            F.lead("token", 1).over(w).isNotNull(),
            F.concat_ws(" ", F.col("token"), F.lead("token", 1).over(w)),
        ).alias("bg"),
    ).where(F.col("bg").isNotNull())
    counts = bigrams.groupBy("id", "bg").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("id").agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("n").alias("top_bigram_count"),
    ).select(
        F.col("id").alias(id_col),
        "n_bigrams",
        "n_distinct_bigrams",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_bigrams") / F.col("n_bigrams").cast("double"),
            6,
        ).alias("dup_bigram_ratio"),
        F.round(
            F.col("top_bigram_count") / F.col("n_bigrams").cast("double"), 6
        ).alias("top_bigram_share"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing + sequence chunking (training-data prep extensions)
# ---------------------------------------------------------------------------

# Deliberately simple, portable regexes (no lookaround / unicode classes):
# both Spark's JVM regex and DuckDB's RE2 execute them identically, so the
# scrub is fully oracle-checkable. A production deployment swaps in its
# compliance-approved patterns; the pipeline shape is unchanged.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def pii_count_sql(name: str) -> str:
    """DuckDB twin of redact_pii's n_<name> count over a `text` column
    (the patterns hold no quote, so they embed as SQL literals)."""
    return f"len(regexp_extract_all(text, '{PII_PATTERNS[name]}'))"


def pii_redact_sql() -> str:
    """DuckDB twin of redact_pii's redacted_text over a `text` column."""
    sql = "text"
    for pat in PII_PATTERNS.values():
        sql = f"regexp_replace({sql}, '{pat}', '[REDACTED]', 'g')"
    return sql


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Per-document PII scrub: counts each pattern class and replaces the
    text column with the redacted text; every other column passes
    through. Pure Column expressions (JVM regex, whole-stage codegen) —
    one projection, no shuffle and no state, so it runs unchanged on a
    batch DataFrame or a streaming one (streaming_pii_scrub); trivially
    100 TB-safe: embarrassingly parallel over documents."""
    del id_col  # kept for signature stability; all columns pass through
    text = F.col(text_col)
    passthrough = [c for c in docs.columns if c != text_col]
    out = docs.select(
        *passthrough,
        *[
            (
                F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
            ).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
        _chained_redact(text, replacement).alias("redacted_text"),
    )
    return out


def _chained_redact(text: Column, replacement: str) -> Column:
    col = text
    for pat in PII_PATTERNS.values():
        col = F.regexp_replace(col, pat, replacement)
    return col


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-width character windows with
    overlap — the sequence-prep step before tokenization/packing in a
    training pipeline. Implemented as sequence+explode (UDTF shape, no
    Python): chunk starts are 0, stride, 2*stride, ... with
    stride = chunk_chars - overlap; every chunk except possibly the last
    is exactly chunk_chars long, and a document shorter than one chunk
    yields exactly one chunk. Map-only: no shuffle, scales linearly."""
    if not 0 <= overlap < chunk_chars:
        raise ValueError("require 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    text = F.col(text_col)
    n = F.length(text)
    # number of chunks = 1 + ceil(max(n - chunk_chars, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_chars, F.lit(0)) / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    exploded = docs.select(
        F.col(id_col),
        text.alias("_text"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    return exploded.select(
        F.col(id_col),
        "chunk_idx",
        "start",
        F.expr(f"substr(_text, start + 1, {int(chunk_chars)})").alias(
            "chunk"
        ),
    ).withColumn("chunk_len", F.length("chunk"))


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of the within-document token distribution — a
    standard corpus-quality signal (low entropy ≈ repetitive/boilerplate,
    used alongside the Gopher-style repetition fractions). Two hash
    aggregations (doc,token) → (doc), both map-side partial; no window,
    no UDF."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("n"))
    per_doc = counts.groupBy("id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(F.col("n") * F.log2("n")).alias("_sum_nlogn"),
    )
    # H = log2(N) - (1/N) * sum(n_i * log2(n_i))  (exact rearrangement —
    # one aggregate instead of a p_i projection per group)
    h = F.log2("n_tokens") - F.col("_sum_nlogn") / F.col("n_tokens")
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_distinct_tokens",
        F.round(h, 6).alias("token_entropy"),
        F.round(
            F.when(
                F.col("n_distinct_tokens") > 1,
                h / F.log2("n_distinct_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("normalized_entropy"),
    )


def winnow_containment(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 4,
    keep_every: int = 2,
    max_df: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """Cross-document containment pairs from winnowing fingerprints: the
    inter-document complement of `fingerprints` (which is per-doc).
    Pipeline: fingerprint sample → drop stop-fingerprints appearing in
    more than `max_df` docs (the quadratic-blowup guard — a fingerprint
    shared by k docs creates k² candidate pairs, so ubiquitous shingles
    must be cut the way IDF cuts stopwords) → self-equi-join on the hash
    → per-pair shared count and containment = shared / min(|fp_a|,|fp_b|).
    All candidate generation flows through the hash equi-join: volume is
    collision-bounded, never n²."""
    fp = fingerprints(
        docs, id_col=id_col, text_col=text_col,
        shingle_k=shingle_k, keep_every=keep_every,
    )
    ex = fp.select(
        F.col(id_col).alias("id"),
        F.col("winnow_size").alias("sz"),
        F.explode("winnow_fp").alias("h"),
    )
    # Referenced three times below (document-frequency pass + both join
    # legs): cache so fingerprinting runs once, not per reference. Plan-
    # matched by Spark's CacheManager. MEMORY_AND_DISK (r14, guide §5):
    # the exploded frame is corpus-x-fingerprints sized, so an eviction
    # re-runs the whole winnow pass per remaining consumer — spill the
    # serialized blocks instead.
    from pyspark import StorageLevel

    ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
    docfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    # Subtract the STOP set (fingerprints in > max_df docs) with an
    # anti-join. No broadcast hint on either side: the keep set is
    # corpus-sized by definition, and the stop set is only "small" on
    # low-duplication corpora — on the dup-heavy corpora this operator
    # targets (clusters of > max_df near-copies), it too approaches the
    # full distinct-fingerprint count. AQE broadcasts at runtime when a
    # side actually fits; neither is forced to the driver.
    stop = docfreq.where(F.col("ndocs") > max_df).select("h")
    ex = ex.join(stop, "h", "left_anti")
    a = ex.select(
        F.col("h"), F.col("id").alias("id_a"), F.col("sz").alias("sz_a")
    )
    b = ex.select(
        F.col("h"), F.col("id").alias("id_b"), F.col("sz").alias("sz_b")
    )
    pairs = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared_fps"),
            F.min(F.least("sz_a", "sz_b")).alias("min_sz"),
        )
        .where(F.col("shared_fps") >= min_shared)
    )
    return pairs.select(
        "id_a",
        "id_b",
        "shared_fps",
        F.round(
            F.col("shared_fps") / F.col("min_sz").cast("double"), 6
        ).alias("containment"),
    )


def lm_bigram_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained token-bigram
    language model (Laplace smoothing) — the statistical-LM filter every
    large-scale training-data pipeline runs (low-probability documents
    are boilerplate/garbled; implausibly probable ones are templated).

    Model: logp(b|a) = ln((c(ab)+1) / (c(a)+V)) with c(·) corpus bigram /
    context counts and V the corpus vocabulary. Output per document with
    >= 2 tokens: (id, n_bigrams, avg_logp, pseudo_ppl = exp(-avg_logp)).

    Scale shape: two aggregation passes build the model (bigram counts,
    context counts — both shrink to distinct-bigram size map-side); the
    scoring joins are plain equi-joins on the bigram/context keys, and
    the vocabulary scalar attaches via a 1-row broadcast. No n², no
    driver-side model materialization.

    r13 note (measured, kept as-is): map-only bigram extraction via
    array transform (the oracle's own shape) removes the window shuffle
    but runs interpreted and measured 1.2x SLOWER end-to-end at sf0.1
    (1.48s -> 1.78s noop) — the codegen'd window wins here too."""
    from pyspark.sql import Window

    from pyspark import StorageLevel

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "a"),
    ).where(F.col("a") != "")
    w = Window.partitionBy("id").orderBy("pos")
    # referenced by the model build AND the scoring join: one
    # materialization of the explode + per-doc window. MEMORY_AND_DISK
    # (r14, guide §5): token-grain — the largest frame in the query.
    bigrams = (
        toks.select("id", "a", F.lead("a", 1).over(w).alias("b"))
        .where(F.col("b").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    c_ab = bigrams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    # c(a) = sum_b c(ab): aggregate the distinct-bigram-sized c_ab, not
    # the corpus-sized bigram stream a second time
    c_a = c_ab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # vocabulary counts ALL tokens (a doc's final token never appears as
    # a bigram context), so it needs the token stream, not c_ab
    vocab = toks.agg(F.countDistinct("a").alias("vocab"))

    scored = (
        bigrams.join(c_ab, ["a", "b"])
        .join(c_a, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.log(
                (F.col("c_ab") + F.lit(1.0))
                / (F.col("c_a") + F.col("vocab"))
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("lp")), 4).alias("pseudo_ppl"),
        )
        .select(
            F.col("id").alias(id_col), "n_bigrams", "avg_logp", "pseudo_ppl"
        )
    )
