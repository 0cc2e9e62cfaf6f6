"""Text-analysis queries over the `documents` table (extensions layer).

Everything here is JVM-side column expressions on the Spark side; the
oracles replicate the identical arithmetic with DuckDB list/regex
functions (note: DuckDB regexp_replace needs the 'g' flag to match
Spark's replace-all default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as ops
from ..operators.dedup import TOKENS_SQL, tokens_expr
from ..sources import tables
from .registry import register


@register(
    "text_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {TOKENS_SQL} AS toks FROM documents)
    SELECT
      doc_id,
      CAST(length(text) AS BIGINT) AS char_count,
      CAST(len(toks) AS BIGINT) AS token_count,
      CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens,
      ROUND(list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE)))
            / GREATEST(len(toks), 1), 4) AS avg_token_len
    FROM tok
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.token_stats(docs)


def quality_scores_sql(source: str = "documents") -> str:
    """DuckDB replay of operators/text.quality_scores over a
    (doc_id, text) relation — the ONE copy of the quality-composite
    formula (weights, stop list, rounding discipline), shared by the
    text_quality_scores oracle and any pipeline oracle that filters on
    the composite (r11 review: no hand-kept duplicates)."""
    stop = ", ".join(f"'{s}'" for s in ops.STOPWORDS)
    return f"""
    SELECT
      doc_id, stopword_ratio, punct_ratio, repetition_ratio, length_score,
      ROUND(stopword_ratio * 40 + (1.0 - punct_ratio) * 20
            + (1.0 - repetition_ratio) * 20 + length_score * 20, 2)
        AS quality_score
    FROM (
      SELECT
        doc_id,
        ROUND(n_stop / GREATEST(n_tok, 1.0), 4) AS stopword_ratio,
        ROUND(n_punct / GREATEST(n_char, 1.0), 4) AS punct_ratio,
        ROUND(1.0 - distinct_ratio, 4) AS repetition_ratio,
        ROUND(length_score, 4) AS length_score
      FROM (
        SELECT
          doc_id,
          CAST(len(toks) AS DOUBLE) AS n_tok,
          CAST(len(list_filter(toks,
            t -> list_contains([{stop}], t)
          )) AS DOUBLE) AS n_stop,
          CAST(length(text)
               - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS DOUBLE) AS n_punct,
          CAST(length(text) AS DOUBLE) AS n_char,
          CAST(len(list_distinct(toks)) AS DOUBLE)
            / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS distinct_ratio,
          LEAST(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS length_score
        FROM (SELECT doc_id, text, {TOKENS_SQL} AS toks FROM {source})
          quality_tok
      ) quality_sig
    ) quality_ratios
    """


@register("text_quality_scores", oracle=quality_scores_sql())
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.quality_scores(docs)


def _lang_hits_legs() -> str:
    legs = []
    for lang, markers in sorted(ops.LANGUAGE_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        legs.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"CAST(len(list_intersect(toks, [{lst}])) AS BIGINT) AS hits FROM tok"
        )
    return "\nUNION ALL\n".join(legs)


@register(
    "text_language_id",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents
    ),
    hits AS (
      {_lang_hits_legs()}
    )
    SELECT doc_id, lang AS predicted_lang, hits AS marker_hits FROM (
      SELECT doc_id, lang, hits,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY hits DESC, lang
             ) AS rn
      FROM hits
    ) t WHERE rn = 1
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.language_id(docs)


@register(
    "text_fingerprint_md5",
    oracle="""
    SELECT
      doc_id,
      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_md5
    FROM documents
    """,
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.fingerprints(docs).select("doc_id", "content_md5")


@register(
    "lateral_explode_tokens",
    oracle="""
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
    WHERE doc_id < 50
    """,
)
def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-in-SQL surface: LATERAL VIEW explode (one row → many rows),
    matching DuckDB's unnest multiset exactly."""
    docs = tables.load_table(spark, sf_dir, "documents")
    docs.where("doc_id < 50").createOrReplaceTempView("docs_lv")
    return docs.sparkSession.sql(
        r"""
        SELECT doc_id, tok
        FROM docs_lv
        LATERAL VIEW explode(split(lower(trim(text)), '\\s+')) t AS tok
        """
    )


@register(
    "text_bpe_token_counts",
    oracle="""
    SELECT
      doc_id,
      CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
        AS bpe_token_count,
      CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT)
        AS ws_token_count,
      CAST(len(regexp_extract_all(lower(text), '[aeiou]')) AS BIGINT)
        AS vowel_count
    FROM documents
    """,
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization count: word pieces + standalone punctuation
    (`\\w+|[^\\w\\s]`) — the pre-tokenizer regex family BPE vocabularies
    train over — next to plain whitespace counts. All regexp_extract_all,
    JVM-side."""
    from pyspark.sql import functions as F

    docs = tables.load_table(spark, sf_dir, "documents")
    def _count(pattern: str, src=F.col("text")):
        return F.size(F.regexp_extract_all(src, F.lit(pattern), F.lit(0))).cast("bigint")

    return docs.select(
        "doc_id",
        _count(r"\w+|[^\w\s]").alias("bpe_token_count"),
        _count(r"[^\s]+").alias("ws_token_count"),
        _count(r"[aeiou]", F.lower(F.col("text"))).alias("vowel_count"),
    )


@register(
    "dataset_quality_audit",
    oracle="""
    SELECT 'documents' AS table_name, 'text' AS column_name,
           COUNT(*) AS total_rows,
           COUNT(text) AS non_null,
           ROUND(1.0 - CAST(COUNT(text) AS DOUBLE) / COUNT(*), 4) AS null_rate,
           COUNT(DISTINCT text) AS distinct_values
    FROM documents
    UNION ALL
    SELECT 'documents', 'lang', COUNT(*), COUNT(lang),
           ROUND(1.0 - CAST(COUNT(lang) AS DOUBLE) / COUNT(*), 4),
           COUNT(DISTINCT lang)
    FROM documents
    UNION ALL
    SELECT 'events', 'value', COUNT(*), COUNT(value),
           ROUND(1.0 - CAST(COUNT(value) AS DOUBLE) / COUNT(*), 4),
           COUNT(DISTINCT value)
    FROM events
    """,
)
def dataset_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness audit (null rates, NDV) — the data-quality
    gate a training pipeline runs before ingestion. One agg per table."""
    from pyspark.sql import functions as F

    def leg(table: str, col: str) -> DataFrame:
        df = tables.load_table(spark, sf_dir, table)
        return df.agg(
            F.lit(table).alias("table_name"),
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("total_rows"),
            F.count(col).alias("non_null"),
            F.round(
                1.0 - F.count(col).cast("double") / F.count(F.lit(1)), 4
            ).alias("null_rate"),
            F.count_distinct(F.col(col)).alias("distinct_values"),
        )

    return (
        leg("documents", "text")
        .unionByName(leg("documents", "lang"))
        .unionByName(leg("events", "value"))
    )


def _winnow_oracle(k: int = 4, keep_every: int = 8) -> str:
    from ..operators.dedup import md5_60_sql

    shingle = f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')"
    return f"""
    WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= {k}
          THEN list_distinct(list_transform(
                 range(1, len(toks) - {k - 2}), i -> {shingle}))
          ELSE [array_to_string(toks, ' ')] END AS shs
      FROM tok
    ),
    fp AS (
      SELECT doc_id,
        list_sort(list_filter(
          list_transform(shs, s -> {md5_60_sql('s')}),
          h -> h % {keep_every} = 0)) AS fps
      FROM sh
    )
    SELECT doc_id,
           COALESCE(array_to_string(fps, ','), '') AS winnow_fp,
           CAST(len(fps) AS BIGINT) AS winnow_size
    FROM fp
    """


@register("text_winnow_fingerprints", oracle=_winnow_oracle())
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style shingle-hash fingerprints. md5_60-based, so the
    deterministic hash sample is replayed and hash-checked in DuckDB."""
    docs = tables.load_table(spark, sf_dir, "documents")
    # comma-joined: the driver canonicalizer can't hash array cells
    fp = ops.fingerprints(docs)
    return fp.select(
        "doc_id",
        F.array_join(
            F.transform("winnow_fp", lambda x: x.cast("string")), ","
        ).alias("winnow_fp"),
        "winnow_size",
    )


@register(
    "corpus_top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKENS_SQL}) AS token FROM documents
    )
    SELECT token, COUNT(*) AS cnt
    FROM tok
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def corpus_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: explode → count → top-k. The exact form
    is the oracle-checkable baseline for frequency analysis; at 100 TB the
    same plan holds (map-side partial counts shuffle one row per distinct
    token, and TakeOrderedAndProject caps the driver result at k)."""
    from pyspark.sql import functions as F

    docs = tables.load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_expr("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'join', 'vector')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
        SUM(
          ln(1 + ((SELECT COUNT(*) FROM documents) - d.df + 0.5) / (d.df + 0.5))
          * (tf.tf * 2.2)
          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT AVG(dl) FROM dl)))
        ) AS score
      FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT s.doc_id, docs.lang, ROUND(s.score, 4) AS bm25
    FROM scored s JOIN documents docs USING (doc_id)
    ORDER BY ROUND(s.score, 4) DESC, s.doc_id
    LIMIT 15
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the query {spark, join, vector} — ranked retrieval
    as pure relational algebra (operators/text.bm25_rank), value-checked
    against a DuckDB replay of the same scoring formula."""
    docs = tables.load_table(spark, sf_dir, "documents")
    scored = ops.bm25_rank(docs, ["spark", "join", "vector"])
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.round("score", 4).alias("bm25"))
        .orderBy(F.round("score", 4).desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# r2 extensions — decontamination + repetition quality filtering
# ---------------------------------------------------------------------------
_DECON_N = 5
_DECON_MOD = 10  # doc_id % MOD == 0 -> benchmark split (fixture convention)


def _ngram_hash_cte(k: int, source: str = "documents", prefix: str = "") -> str:
    """DISTINCT (doc_id, h) n-gram md5_60 hashes, replaying
    operators/text.ngram_hashes in DuckDB list SQL. `source` lets
    pipeline oracles shingle a filtered CTE; `prefix` renames the CTEs
    so several shingle passes can coexist in one statement."""
    from ..operators.dedup import md5_60_sql

    g = md5_60_sql(f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')")
    return f"""
    {prefix}tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {source}),
    {prefix}sh AS (SELECT doc_id, CASE WHEN len(toks) >= {k}
            THEN list_transform(range(1, len(toks) - {k - 2}), i -> {g})
            ELSE [] END AS gs FROM {prefix}tok),
    {prefix}e AS (SELECT DISTINCT doc_id, unnest(gs) AS h FROM {prefix}sh)"""


def _model_weight_sum_sql(toks_expr: str) -> str:
    """DuckDB expression: the integer hashed-feature weight sum of
    model_quality_scores over a token-list expression (same arithmetic
    as _model_quality_oracle — reused by pipeline oracles)."""
    from ..operators.dedup import md5_60_sql

    bucket = md5_60_sql("'qw|' || t") + f" % {_QW_BUCKETS}"
    weight = (
        md5_60_sql(f"'wt|' || CAST({bucket} AS VARCHAR)") + " % 2001 - 1000"
    )
    return (
        f"CAST(COALESCE(list_sum(list_transform("
        f"list_distinct({toks_expr}), t -> {weight})), 0) AS BIGINT)"
    )


@register(
    "decontamination_ngram_overlap",
    memo=True,
    oracle=f"""
    WITH {_ngram_hash_cte(_DECON_N)},
    train AS (SELECT * FROM e WHERE doc_id % {_DECON_MOD} != 0),
    ev AS (SELECT doc_id AS bench_id, h FROM e WHERE doc_id % {_DECON_MOD} = 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM train GROUP BY 1),
    ov AS (
      SELECT t.doc_id,
             COUNT(DISTINCT t.h) AS n_overlap,
             COUNT(DISTINCT ev.bench_id) AS n_bench_docs
      FROM train t JOIN ev ON t.h = ev.h
      GROUP BY 1
    )
    SELECT o.doc_id,
           CAST(o.n_overlap AS BIGINT) AS n_overlap,
           CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
           ROUND(o.n_overlap / CAST(t.n_ngrams AS DOUBLE), 6)
             AS overlap_ratio,
           CAST(o.n_bench_docs AS BIGINT) AS n_bench_docs
    FROM ov o JOIN tot t USING (doc_id)
    """,
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training decontamination: training docs sharing any 5-gram
    with the benchmark split (doc_id % 10 == 0 stands in for a held-out
    eval set), with overlap counts and ratios. The oracle replays the
    identical hash-set join, so the report is hash-checked end to end —
    the check proves set semantics (distinct n-grams per doc), not just
    collision counting."""
    docs = tables.load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % _DECON_MOD != 0)
    bench = docs.where(F.col("doc_id") % _DECON_MOD == 0)
    return ops.decontamination_overlap(train, bench, n=_DECON_N)


_QW_BUCKETS = 4096


def _model_quality_oracle() -> str:
    from ..operators.dedup import md5_60_sql

    bucket = md5_60_sql("'qw|' || t") + f" % {_QW_BUCKETS}"
    weight = (
        md5_60_sql(f"'wt|' || CAST({bucket} AS VARCHAR)") + " % 2001 - 1000"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(toks) AS n_features,
             CAST(COALESCE(list_sum(
               list_transform(toks, t -> {weight})), 0) AS BIGINT)
               AS weight_sum
      FROM tok
    )
    SELECT doc_id,
           CAST(n_features AS BIGINT) AS n_features,
           weight_sum,
           ROUND(weight_sum / (1000.0 *
             sqrt(CAST(GREATEST(n_features, 1) AS DOUBLE))), 6)
             AS model_score,
           weight_sum >= 0 AS is_quality
    FROM f
    """


@register("text_model_quality_scores", oracle=_model_quality_oracle())
def text_model_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter plumbing (hashed linear classifier;
    operators/text.model_quality_scores): feature hashing, integer
    weight sum, sqrt-normalized score and keep gate — the fastText-
    shaped filter stage with a deterministic weight stand-in at the
    model seam. The oracle replays the identical integer hash
    arithmetic, so the score is hash-checked to 6 decimals."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.model_quality_scores(docs, n_buckets=_QW_BUCKETS)


def _loaded_weights_oracle() -> str:
    """Oracle for the weight-LOADER path: the same deterministic
    (bucket, weight) fixture rendered as a range() CTE, scored via an
    explode + join + group (shape-independent of Spark's broadcast-map
    form — integer micro-unit sums are order-independent, so the two
    dataflows must agree bit-for-bit)."""
    from ..operators.dedup import md5_60_sql

    bucket = md5_60_sql("'qw|' || t") + f" % {_QW_BUCKETS}"
    return f"""
    WITH w AS (
      SELECT CAST(i AS INT) AS bucket,
             CAST(((i * 7919 + 343) % 2001 - 1000) * 1000 AS BIGINT)
               AS w_micro
      FROM range({_QW_BUCKETS}) t(i)
    ),
    tok AS (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, CAST({bucket} AS INT) AS bucket
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
    ),
    s AS (
      SELECT e.doc_id, SUM(w.w_micro) AS wsum
      FROM e LEFT JOIN w USING (bucket)
      GROUP BY e.doc_id
    )
    SELECT tok.doc_id,
           CAST(len(toks) AS BIGINT) AS n_features,
           CAST(COALESCE(s.wsum, 0) AS BIGINT) AS weight_sum_micro,
           ROUND(COALESCE(s.wsum, 0) / (1000000.0 *
             sqrt(CAST(GREATEST(len(toks), 1) AS DOUBLE))), 6)
             AS model_score,
           COALESCE(s.wsum, 0) >= 0 AS is_quality
    FROM tok LEFT JOIN s USING (doc_id)
    """


@register("text_model_quality_scores_loaded", oracle=_loaded_weights_oracle())
def text_model_quality_scores_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model seam with a LOADED weight vector: an external (bucket,
    weight) DataFrame — here a deterministic non-hash fixture, in
    production the exported coefficients of a trained quality classifier
    — flows through operators/text.model_quality_scores_from_weights
    (decimal -> integer micro-units -> broadcast bucket map -> map-only
    scoring). Proves the loader path scores identically to a SQL oracle
    given the same weights; the hashed stand-in remains the default
    fixture of text_model_quality_scores."""
    docs = tables.load_table(spark, sf_dir, "documents")
    weights = spark.range(_QW_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (
            ((F.col("id") * 7919 + 343) % 2001 - 1000)
            / F.lit(1000.0)
        ).alias("weight"),
    )
    return ops.model_quality_scores_from_weights(
        docs, weights, n_buckets=_QW_BUCKETS
    )


_SPAN_N = 8


@register(
    "duplicate_span_stats",
    memo=True,
    oracle=f"""
    WITH {_ngram_hash_cte(_SPAN_N)},
    dfreq AS (SELECT h, COUNT(*) AS ndocs FROM e GROUP BY h)
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_spans,
           ROUND(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS shared_span_ratio
    FROM e JOIN dfreq USING (h)
    GROUP BY e.doc_id
    """,
)
def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span report: per document, how many of
    its distinct 8-token spans occur in other documents too — the
    span-level (sub-document) dedup signal of Lee et al. 2021, as a
    pure equi-join dataflow (operators/text.duplicate_span_stats). The
    oracle replays the identical shingle-hash join in DuckDB."""
    docs = tables.load_table(spark, sf_dir, "documents")
    # skew_safe pinned (no auto-probe): the driver/bench plan must be
    # action-free at build time and stable across rounds; the operator's
    # auto-dispatch is exercised by tests/test_text_prep.py
    return ops.duplicate_span_stats(docs, n=_SPAN_N, skew_safe=False)


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    bg AS (SELECT doc_id, CASE WHEN len(toks) >= 2
            THEN list_transform(range(1, len(toks) - 0),
                 i -> array_to_string(list_slice(toks, i, i + 1), ' '))
            ELSE [] END AS bgs FROM tok),
    e AS (SELECT doc_id, unnest(bgs) AS bg FROM bg),
    counts AS (SELECT doc_id, bg, COUNT(*) AS n FROM e GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           ROUND(1.0 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6)
             AS dup_bigram_ratio,
           ROUND(MAX(n) / CAST(SUM(n) AS DOUBLE), 6) AS top_bigram_share
    FROM counts GROUP BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (duplicate-bigram fraction,
    top-bigram share) — the Gopher-family repetition quality filter as
    one explode + two aggregations (operators/text.repetition_stats)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.repetition_stats(docs)


# ---------------------------------------------------------------------------
# PII scrubbing + sequence chunking (r3 extensions)
# ---------------------------------------------------------------------------

# The synthetic corpus contains no PII, so both engines append the SAME
# deterministic PII fixture (one email, one URL, one phone, derived from
# doc_id) before scrubbing — the regex paths are exercised on real hits
# and the redacted output is hash-checked end to end.
_PII_SUFFIX_SQL = (
    "' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com via "
    "https://example.org/d/' || CAST(doc_id AS VARCHAR) || "
    "' or call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


_PII_COUNTS = ", ".join(
    f"CAST({ops.pii_count_sql(name)} AS INT) AS n_{name}"
    for name in ops.PII_PATTERNS
)


def _pii_suffix_col() -> F.Column:
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit(" contact: user"),
        did,
        F.lit("@example.com via https://example.org/d/"),
        did,
        F.lit(" or call +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    )
    SELECT doc_id, {_PII_COUNTS}, md5({ops.pii_redact_sql()}) AS redacted_md5
    FROM aug
    ORDER BY doc_id
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus (operators/text.redact_pii): per-class
    match counts + md5 of the fully redacted text, hash-checked against
    DuckDB's RE2 on identical inputs. Map-only JVM regex — no shuffle,
    linear at 100 TB. The deterministic fixture suffix (see module
    comment) guarantees real matches for every class."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), _pii_suffix_col()).alias("text")
    )
    red = ops.redact_pii(docs)
    return red.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_url").cast("int").alias("n_url"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.md5("redacted_text").alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "document_chunking_stats",
    oracle="""
    WITH params AS (SELECT 512 AS chunk, 448 AS stride),
    chunks AS (
      SELECT d.doc_id,
             s.start,
             SUBSTR(d.text, s.start + 1, 512) AS chunk
      FROM documents d, params p,
      LATERAL (
        SELECT UNNEST(range(0,
          (CAST(CEIL(GREATEST(LENGTH(d.text) - p.chunk, 0) / (p.stride * 1.0))
            AS INT)) * p.stride + 1,
          p.stride)) AS start
      ) s
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(LENGTH(chunk)) AS BIGINT) AS total_chunk_chars,
      md5(string_agg(chunk, '|' ORDER BY start)) AS chunks_md5
    FROM chunks
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def document_chunking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width overlapping character chunking (512/64 — the sequence
    prep before tokenize/pack; operators/text.chunk_documents), rolled to
    per-doc counts + an order-sensitive md5 over the chunk stream so the
    oracle verifies every chunk boundary and byte. sequence+posexplode
    UDTF shape, map-only."""
    docs = tables.load_table(spark, sf_dir, "documents")
    chunks = ops.chunk_documents(docs, chunk_chars=512, overlap=64)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
        lambda s: s["chunk"],
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("total_chunk_chars"),
            F.md5(F.concat_ws("|", ordered)).alias("chunks_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_entropy_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({TOKENS_SQL}) AS token FROM documents
    ),
    counts AS (
      SELECT doc_id, token, COUNT(*) AS n FROM tok GROUP BY doc_id, token
    ),
    per_doc AS (
      SELECT doc_id,
             SUM(n) AS n_tokens,
             COUNT(*) AS n_distinct_tokens,
             SUM(n * log2(n)) AS sum_nlogn
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
      ROUND(log2(n_tokens) - sum_nlogn / n_tokens, 6) AS token_entropy,
      ROUND(CASE WHEN n_distinct_tokens > 1
            THEN (log2(n_tokens) - sum_nlogn / n_tokens)
                 / log2(n_distinct_tokens)
            ELSE 0.0 END, 6) AS normalized_entropy
    FROM per_doc
    ORDER BY doc_id
    """,
)
def text_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document token-distribution Shannon entropy + normalized
    entropy (operators/text.token_entropy) — the low-entropy/boilerplate
    quality filter beside the repetition stats. Hash-checked via the
    identical H = log2 N - Σ n·log2 n / N rearrangement in DuckDB."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.token_entropy(docs).orderBy("doc_id")


def _containment_oracle(
    k: int = 4, keep_every: int = 2, max_df: int = 50, min_shared: int = 1
) -> str:
    from ..operators.dedup import md5_60_sql

    shingle = f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')"
    return f"""
    WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= {k}
          THEN list_distinct(list_transform(
                 range(1, len(toks) - {k - 2}), i -> {shingle}))
          ELSE [array_to_string(toks, ' ')] END AS shs
      FROM tok
    ),
    fp AS (
      SELECT doc_id,
        list_filter(list_transform(shs, s -> {md5_60_sql('s')}),
                    h -> h % {keep_every} = 0) AS fps
      FROM sh
    ),
    ex AS (
      SELECT doc_id, len(fps) AS sz, UNNEST(fps) AS h FROM fp
    ),
    keepers AS (
      SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= {max_df}
    ),
    ex2 AS (SELECT ex.* FROM ex JOIN keepers USING (h)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS shared_fps,
             MIN(LEAST(a.sz, b.sz)) AS min_sz
      FROM ex2 a JOIN ex2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {min_shared}
    )
    SELECT id_a, id_b, CAST(shared_fps AS BIGINT) AS shared_fps,
           ROUND(shared_fps / CAST(min_sz AS DOUBLE), 6) AS containment
    FROM pairs
    ORDER BY id_a, id_b
    """


@register("winnow_containment_pairs", oracle=_containment_oracle(), memo=True)
def winnow_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document containment report from winnowing fingerprints
    (operators/text.winnow_containment): which documents share sampled
    shingle content, and how much of the smaller document is covered —
    the exact-substring-overlap complement to MinHash (set similarity)
    and decontamination (n-gram membership). Stop-fingerprints (df >
    50 docs) are cut before pairing, so candidate volume stays
    collision-bounded at scale. Fully hash-checked: md5_60 fingerprints
    replay in DuckDB."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.winnow_containment(
        docs, shingle_k=4, keep_every=2, max_df=50, min_shared=1
    ).orderBy("id_a", "id_b")


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, source, len({TOKENS_SQL}) AS n_tokens,
             len(list_distinct({TOKENS_SQL})) AS n_distinct
      FROM documents
    ),
    grp AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             SUM(n_tokens) AS total_tokens,
             ROUND(AVG(n_distinct / GREATEST(n_tokens, 1)::DOUBLE), 6)
               AS mean_diversity
      FROM tok GROUP BY lang, source
    ),
    weighted AS (
      SELECT *, total_tokens * mean_diversity AS raw_w FROM grp
    ),
    tot AS (SELECT SUM(raw_w) AS w FROM weighted)
    SELECT lang, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           mean_diversity,
           ROUND(raw_w / w, 6) AS mixture_share,
           CAST(ROUND(ROUND(raw_w / w, 6) * 1000000, 0) AS BIGINT)
             AS budget_tokens
    FROM weighted, tot
    ORDER BY lang, source
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: per (lang, source) strata, token mass
    and a diversity-weighted sampling share, projected onto a 1M-token
    budget — the reweighting table a data-mixing stage consumes (quality-
    weighted source mixing a la Doremi-style planning, here with the
    deterministic distinct-token diversity signal so the arithmetic is
    fully oracle-checkable). One token pass + one strata rollup; the
    strata table is dimension-sized at any corpus scale."""
    docs = tables.load_table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    per_doc = docs.select(
        "lang",
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    grp = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.avg(
                F.col("n_distinct")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ),
            6,
        ).alias("mean_diversity"),
    )
    weighted = grp.withColumn(
        "raw_w", F.col("total_tokens") * F.col("mean_diversity")
    )
    tot = weighted.agg(F.sum("raw_w").alias("w"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            "mean_diversity",
            F.round(F.col("raw_w") / F.col("w"), 6).alias("mixture_share"),
            # round(round(share,6)*1e6): the inner round-6 pins both
            # engines to the same 6-decimal share, so the outer round
            # lands on an exact integer — never a floor() fp boundary
            F.round(F.round(F.col("raw_w") / F.col("w"), 6) * 1_000_000, 0)
            .cast("bigint")
            .alias("budget_tokens"),
        )
        .orderBy("lang", "source")
    )


@register(
    "text_lm_perplexity",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    b2 AS (
      SELECT doc_id, pair[1] AS a, pair[2] AS b FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> [toks[i], toks[i + 1]])) AS pair
        FROM d WHERE len(toks) >= 2
      ) bgx
    ),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM b2 GROUP BY a, b),
    ca AS (SELECT a, COUNT(*) AS c_a FROM b2 GROUP BY a),
    v AS (
      SELECT COUNT(DISTINCT t) AS vocab
      FROM (SELECT unnest(toks) AS t FROM d) tv
    ),
    scored AS (
      SELECT b2.doc_id,
             ln((c_ab + 1.0) / (c_a + vocab)) AS lp
      FROM b2 JOIN cab USING (a, b) JOIN ca USING (a), v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           -- VARCHAR->DECIMAL rounding replays Spark's shortest-repr
           -- HALF_UP semantics (see queries/suites.py) — plain
           -- ROUND(double) diverges at exact decimal ties
           CAST(ROUND(CAST(SUM(lp) / COUNT(*) AS VARCHAR)
             ::DECIMAL(38,12), 4) AS DOUBLE) AS avg_logp,
           CAST(ROUND(CAST(exp(-(SUM(lp) / COUNT(*))) AS VARCHAR)
             ::DECIMAL(38,12), 4) AS DOUBLE) AS pseudo_ppl
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scores: a corpus-trained token-bigram model
    (Laplace smoothed) scores every document's average log-probability
    and pseudo-perplexity — the perplexity-filter primitive of
    large-scale pretraining pipelines (operators/text.lm_bigram_scores).
    The oracle trains the identical model in SQL; 4dp rounding absorbs
    libm ln() ulp differences across engines."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.lm_bigram_scores(docs).orderBy("doc_id")


_ZIPF_HEAD = 500  # fit over the head ranks (standard Zipf practice; also
# keeps the regression sums small enough that 4dp rounding is stable)


@register(
    "corpus_zipf_stats",
    memo=True,
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKENS_SQL}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    totals AS (
      SELECT COUNT(*) AS n_vocab, SUM(cnt) AS total_tokens FROM counts
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS r
      FROM counts
    ),
    head AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
      FROM ranked WHERE r <= {_ZIPF_HEAD}
    ),
    fit AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM head
    )
    SELECT CAST(t.n_vocab AS BIGINT) AS n_vocab,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           CAST(f.n AS BIGINT) AS head_n,
           ROUND((f.n * f.sxy - f.sx * f.sy)
                 / (f.n * f.sxx - f.sx * f.sx), 4) AS zipf_slope,
           ROUND(POWER(f.n * f.sxy - f.sx * f.sy, 2)
                 / ((f.n * f.sxx - f.sx * f.sx)
                    * (f.n * f.syy - f.sy * f.sy)), 4) AS zipf_r2
    FROM totals t, fit f
    """,
)
def corpus_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: rank
    tokens by count, least-squares slope/R² of ln(count) vs ln(rank)
    over the head ranks — the vocabulary-health diagnostic of corpus
    analysis (natural text ≈ slope -1; synthetic/templated corpora
    deviate). One token explode + count shuffle, a top-{_ZIPF_HEAD}
    rank window, and a single closed-form regression aggregate (the
    identical sums on both engines, rounded to 4dp)."""
    from pyspark.sql import Window

    docs = tables.load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(ops.tokens_expr("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
    )
    # Head-first: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition top-K + single merge), so the global rank window
    # only ever sees <= _ZIPF_HEAD rows — never the whole vocabulary.
    w = Window.orderBy(F.col("cnt").desc(), "token")
    head = (
        counts.orderBy(F.col("cnt").desc(), "token")
        .limit(_ZIPF_HEAD)
        .withColumn("r", F.row_number().over(w))
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    fit = head.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return totals.crossJoin(fit).select(
        "n_vocab",
        "total_tokens",
        F.col("n").cast("bigint").alias("head_n"),
        F.round(num / denx, 4).alias("zipf_slope"),
        F.round(F.pow(num, 2) / (denx * deny), 4).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# Distributed BPE merge-candidate mining (r10): the statistics half of a
# byte-pair-encoding tokenizer TRAINING iteration. Classic BPE counts, per
# unique word weighted by its corpus frequency, every adjacent symbol pair;
# the highest count becomes the next merge. At 100 TB the unique-word table
# after the first groupBy is vocabulary-sized (millions, not billions), so
# the expensive pass over raw text happens exactly once; pair explosion and
# the ranking run over the small aggregate. ASCII-alphabetic words only —
# a deliberate parity envelope (substring semantics on multi-byte code
# points are engine-specific; real BPE trainers byte-encode first anyway).

_BPE_TOP = 50


@register(
    "bpe_merge_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({TOKENS_SQL}) AS word FROM documents
    ),
    w AS (
      SELECT word, COUNT(*) AS freq FROM toks
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
      GROUP BY word
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, CAST(i AS INT), 2)))
               AS pair,
             freq
      FROM w
    ),
    agg AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM p GROUP BY pair
    )
    SELECT pair, pair_count, rank FROM (
      SELECT pair, pair_count,
             CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
                  AS BIGINT) AS rank
      FROM agg
    ) t WHERE rank <= {_BPE_TOP}
    """,
)
def bpe_merge_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top merge candidates of the first BPE training iteration:
    frequency-weighted adjacent character-pair counts over the unique
    words of the corpus, ranked with a total (count DESC, pair) order
    so the top-50 cut is deterministic on both engines.

    Plan shape: explode(tokens) → word groupBy (the only corpus-sized
    shuffle, map-side combined) → pair explode over the VOCABULARY →
    pair groupBy → TakeOrderedAndProject. Iterating BPE re-runs only
    the vocabulary-sized stages with merged symbols."""
    from pyspark.sql import Window

    from ..operators import dedup as dedup_ops

    docs = tables.load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(dedup_ops.tokens_expr("text")).alias("word")
        )
        .where(
            F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("pair_count")
    )
    # r13 (guide §2.4): (count DESC, pair) is a strict total order, so
    # the top-N cut is computed with orderBy+limit — a parallel
    # per-partition top-K (TakeOrderedAndProject) — and the row_number
    # window (which single-partitions its whole input) runs over the N
    # surviving rows only, never over the full pair table.
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        agg.orderBy(F.col("pair_count").desc(), "pair")
        .limit(_BPE_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# Unrolled BPE training loop (r10): three merge ROUNDS, each applying the
# previous round's winning merge before recounting — the part of BPE that
# looks "inherently sequential" expressed as a declarative plan. Each
# merged symbol is rewritten to a single surrogate character (Q/R/S —
# outside the [a-z] alphabet), so 2-char-substring pair extraction keeps
# meaning "adjacent SYMBOLS" after any number of merges, and `replace`'s
# left-to-right non-overlapping semantics (identical in Spark and DuckDB)
# are exactly BPE's greedy merge application.

_BPE_ROUNDS_TOP = 10
# Surrogate alphabet for merged symbols: single chars outside [a-z] so
# 2-char-substring pair extraction keeps meaning "adjacent symbols".
# Q/R/S stay first — the registered 3-round query's oracle is written
# against them; rounds past 26 would need a wider symbol encoding.
_BPE_SURROGATE_ALPHABET = "QRSTUVWXYZABCDEFGHIJKLMNOP"
_BPE_SURROGATES = tuple(_BPE_SURROGATE_ALPHABET[:3])


def bpe_train_merges(
    words: DataFrame,
    n_rounds: int = 3,
    top: int = _BPE_ROUNDS_TOP,
    truncate_every: int | None = None,
) -> DataFrame:
    """N-round BPE trainer over a (word, freq) vocabulary frame: each
    round counts frequency-weighted adjacent symbol pairs, picks the
    top merge (count DESC, pair tie-break), applies it via
    replace(word, merge_pair, surrogate) — left-to-right
    non-overlapping, exactly BPE's greedy merge application — and
    recounts. Returns (round, pair, pair_count, rank) for each round's
    top-``top`` pairs. The winning merge flows into the next round as
    a BROADCAST single-row frame — no driver-side collect.

    Lineage truncation (r10 verdict #4): each round adds a fixed slab
    of plan (pair explode + groupBy + window + broadcast replace), so
    an untruncated N-round train is ONE lazy plan with N slabs — fine
    at 3, optimizer-bound at 30. With ``truncate_every=k`` both the
    evolving vocabulary and the accumulated per-round output are
    localCheckpoint(eager=True)-ed every k rounds, bounding plan size
    at ~k slabs regardless of N (the frames are vocabulary-sized /
    top*N-sized — cheap to materialize). Swap in reliable
    .checkpoint() for cluster jobs that must survive executor loss.
    Default None keeps the registered 3-round query's one-lazy-plan
    shape byte-identical."""
    from pyspark.sql import Window

    if n_rounds > len(_BPE_SURROGATE_ALPHABET):
        raise ValueError(
            f"bpe_train_merges supports at most "
            f"{len(_BPE_SURROGATE_ALPHABET)} rounds with single-char "
            f"surrogates; got n_rounds={n_rounds}"
        )

    def pair_counts(w: DataFrame) -> DataFrame:
        return (
            w.where(F.length("word") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(word) - 1),"
                        " i -> substring(word, i, 2))"
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )

    rank_w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    out: DataFrame | None = None
    w = words
    for r in range(1, n_rounds + 1):
        surrogate = _BPE_SURROGATE_ALPHABET[r - 1]
        counts = pair_counts(w)
        # r13 (guide §2.4): the total order (count DESC, pair) makes the
        # top-``top`` cut an orderBy+limit (parallel per-partition
        # top-K), so the single-partition row_number window sees only
        # ``top`` rows per round, never the full pair table — and the
        # winning merge is the top-1 of that cut, not a second
        # full-table window pass.
        top_rows = counts.orderBy(
            F.col("pair_count").desc(), "pair"
        ).limit(top)
        leg = top_rows.withColumn(
            "rank", F.row_number().over(rank_w).cast("bigint")
        ).select(
            F.lit(r).cast("bigint").alias("round"),
            "pair",
            "pair_count",
            "rank",
        )
        out = leg if out is None else out.unionByName(leg)
        top1 = (
            top_rows.orderBy(F.col("pair_count").desc(), "pair")
            .limit(1)
            .select(F.col("pair").alias("merge_pair"))
        )
        w = w.crossJoin(F.broadcast(top1)).select(
            F.expr(f"replace(word, merge_pair, '{surrogate}')").alias(
                "word"
            ),
            "freq",
        )
        if truncate_every and r % truncate_every == 0 and r < n_rounds:
            w = w.localCheckpoint(eager=True)
            out = out.localCheckpoint(eager=True)
    assert out is not None
    return out


def _bpe_words_sql() -> str:
    return f"""
      SELECT word, COUNT(*) AS freq FROM (
        SELECT unnest({TOKENS_SQL}) AS word FROM documents
      ) toks
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
      GROUP BY word
    """


def _bpe_pairs_sql(words_cte: str) -> str:
    return f"""
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, length(word)),
                                     i -> substr(word, CAST(i AS INT), 2)))
                 AS pair,
               freq
        FROM {words_cte} WHERE length(word) >= 2
      ) p GROUP BY pair
    """


def _bpe_iterations_oracle() -> str:
    ctes = [f"w1 AS ({_bpe_words_sql()})"]
    legs = []
    for r, surrogate in enumerate(_BPE_SURROGATES, start=1):
        ctes.append(f"p{r} AS ({_bpe_pairs_sql(f'w{r}')})")
        ctes.append(
            f"t{r} AS (SELECT pair AS merge_pair FROM p{r}"
            f" ORDER BY pair_count DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"w{r + 1} AS (SELECT replace(word,"
            f" (SELECT merge_pair FROM t{r}), '{surrogate}') AS word, freq"
            f" FROM w{r})"
        )
        legs.append(
            f"SELECT {r} AS round, pair, pair_count, rank FROM ("
            f"  SELECT pair, pair_count,"
            f"    CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)"
            f"         AS BIGINT) AS rank"
            f"  FROM p{r}) q WHERE rank <= {_BPE_ROUNDS_TOP}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(round AS BIGINT) AS round, pair, pair_count, rank"
          " FROM (\n"
        + "\nUNION ALL\n".join(legs)
        + "\n) rounds"
    )


@register("bpe_merge_iterations", oracle=_bpe_iterations_oracle())
def bpe_merge_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled BPE training rounds: count pairs -> pick the top
    merge (count DESC, pair tie-break) -> apply it -> recount. The
    winning merge flows into the next round as a BROADCAST single-row
    frame consumed by `replace(word, merge_pair, surrogate)` — no
    driver-side collect; the whole loop is one lazy plan.

    Scale: every round's recount runs over the VOCABULARY (unique-word)
    table, not the corpus — the corpus-sized shuffle happens exactly
    once, in the initial word count. That is also how production BPE
    trainers scale: iterate on the aggregate, never on the raw text.
    The N-round generalization with lineage truncation is
    bpe_train_merges; this registered query is its n_rounds=3,
    untruncated (one lazy plan) configuration, pinned to the unrolled
    3-round oracle."""
    from ..operators import dedup as dedup_ops

    docs = tables.load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(dedup_ops.tokens_expr("text")).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return bpe_train_merges(words, n_rounds=len(_BPE_SURROGATES))


# ---------------------------------------------------------------------------
# Language-ID evaluation (r10): the confusion matrix of the n-gram marker
# classifier (text_language_id) against the corpus's true labels — the
# quality-evaluation row a curation pipeline needs before trusting the
# predictor for routing/filtering. Counts only (n_docs + lang_total), no
# ratios: exact integers sidestep cross-engine ROUND-of-ratio drift, and
# accuracy per language is n_docs / lang_total on the diagonal.

_LANG_PRED_SQL = f"""
      SELECT doc_id, lang AS predicted_lang FROM (
        SELECT doc_id, lang, hits,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY hits DESC, lang
               ) AS rn
        FROM hits
      ) t WHERE rn = 1
"""


@register(
    "language_id_confusion",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents
    ),
    hits AS (
      {_lang_hits_legs()}
    ),
    pred AS (
      {_LANG_PRED_SQL}
    )
    SELECT d.lang AS true_lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS BIGINT)
             AS lang_total
    FROM pred p JOIN documents d USING (doc_id)
    GROUP BY d.lang, p.predicted_lang
    """,
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true language, predicted language) cell counts plus each true
    language's row total. The predictor runs UNCHANGED (operators/
    text.language_id); the join back to the labels and the two-level
    count are the only additions, so a green row certifies the full
    classifier path end-to-end against the oracle's independent SQL
    replay of the marker scoring."""
    from pyspark.sql import Window

    docs = tables.load_table(spark, sf_dir, "documents")
    # r13 (guide §2.4): the predictor is a pure column expression, so
    # the true label and the prediction come from ONE projection — the
    # previous structure joined the annotator frame back on doc_id to
    # re-attach `lang`, paying a doc-grain join and a second corpus
    # scan for a value available in the same row.
    cells = (
        docs.select(
            F.col("lang").alias("true_lang"),
            ops.predicted_lang_col("text").alias("predicted_lang"),
        )
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return cells.withColumn(
        "lang_total",
        F.sum("n_docs").over(Window.partitionBy("true_lang")).cast("bigint"),
    )


def _bpe_compression_oracle() -> str:
    """Replays the 3-round GLOBAL training (the w/p/t CTE chain from
    _bpe_iterations_oracle) and then APPLIES the trained merges to a
    per-language vocabulary — symbol totals are exact integers."""
    ctes = [f"w1 AS ({_bpe_words_sql()})"]
    for r, surrogate in enumerate(_BPE_SURROGATES, start=1):
        ctes.append(f"p{r} AS ({_bpe_pairs_sql(f'w{r}')})")
        ctes.append(
            f"t{r} AS (SELECT pair AS merge_pair FROM p{r}"
            f" ORDER BY pair_count DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"w{r + 1} AS (SELECT replace(word,"
            f" (SELECT merge_pair FROM t{r}), '{surrogate}') AS word, freq"
            f" FROM w{r})"
        )
    apply_chain = "word"
    for r, surrogate in enumerate(_BPE_SURROGATES, start=1):
        apply_chain = (
            f"replace({apply_chain}, (SELECT merge_pair FROM t{r}),"
            f" '{surrogate}')"
        )
    ctes.append(
        f"""lv AS (
      SELECT lang, word, COUNT(*) AS freq FROM (
        SELECT lang, unnest({TOKENS_SQL}) AS word FROM documents
      ) toks
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
      GROUP BY lang, word
    ),
    applied AS (
      SELECT lang, freq,
             length(word) AS len_before,
             length({apply_chain}) AS len_after
      FROM lv
    )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * len_before) AS BIGINT) AS symbols_before,
           CAST(SUM(freq * len_after) AS BIGINT) AS symbols_after
    FROM applied GROUP BY lang"""
    )


@register("bpe_corpus_compression", oracle=_bpe_compression_oracle())
def bpe_corpus_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merges to the corpus — the half of the
    tokenizer lifecycle the trainer queries don't cover: the 3 merges
    learned on the GLOBAL vocabulary (the bpe_merge_iterations chain)
    rewrite every word instance, and the report is per-language symbol
    compression (each character of a rewritten word = one symbol), the
    evidence a tokenizer team reads to decide whether a merge table
    transfers across languages. All exact integers.

    Scale shape: training iterates on the unique-word table (one
    corpus-sized shuffle for the global count, one for the per-lang
    vocabulary); the apply step is three broadcast single-row joins +
    replace over the (lang, word) VOCAB — the corpus-sized token
    stream is never rewritten row-by-row, mirroring how production
    tokenizers apply merge tables to vocabularies, not raw text."""
    from ..operators import dedup as dedup_ops

    docs = tables.load_table(spark, sf_dir, "documents")
    stream = docs.select(
        "lang", F.explode(dedup_ops.tokens_expr("text")).alias("word")
    ).where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
    global_vocab = stream.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    merges = bpe_train_merges(
        global_vocab, n_rounds=len(_BPE_SURROGATES)
    ).where(F.col("rank") == 1)
    lang_vocab = stream.groupBy("lang", "word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    applied = lang_vocab.withColumn("after", F.col("word"))
    for r, surrogate in enumerate(_BPE_SURROGATES, start=1):
        top_r = merges.where(F.col("round") == r).select(
            F.col("pair").alias(f"merge_{r}")
        )
        applied = applied.crossJoin(F.broadcast(top_r)).withColumn(
            "after",
            F.expr(f"replace(after, merge_{r}, '{surrogate}')"),
        )
    return applied.groupBy("lang").agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.length("word"))
        .cast("bigint")
        .alias("symbols_before"),
        F.sum(F.col("freq") * F.length("after"))
        .cast("bigint")
        .alias("symbols_after"),
    )
