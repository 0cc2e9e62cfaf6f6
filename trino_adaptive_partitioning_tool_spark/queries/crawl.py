"""Web-crawl ingestion queries (WARC -> HTML -> text funnel).

Every payload is a REAL multi-member .warc.gz shard (operators/crawl):
gzip member per record, WARC/1.0 headers, HTTP response envelopes,
deterministic HTML. The synthesis convention derives all content from
md5(doc_key), so the oracles re-derive record counts, body lengths,
extracted word counts and the position-weighted hex-word checksum with
pure arithmetic — the Spark side HAS to walk gzip members, parse two
header layers, and run the boilerplate-stripping extractor to reach the
same numbers. The position-weighted checksum certifies extraction ORDER
and script/style/comment exclusion: any leaked or reordered token
shifts every later position.

Scale: shards are the parallel unit (one member-walk per row inside a
single Arrow stage); the wide binary body column is projected away in
the extraction stage itself, so nothing wide ever crosses a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo
from ..operators import crawl as cops
from ..sources import tables
from ..tempdirs import exit_tempdir
from .registry import register

_N_SHARDS = 64  # x 4 records/shard = 256 records

# rid -> (content key, http status): the duplicate convention (every
# rid % 16 == 8 reuses rid - 8's document) and the status cycle
_R_BASE = f"""
    r AS (
      SELECT t.rid,
             CASE WHEN t.rid % 16 = 8 THEN t.rid - 8 ELSE t.rid END AS key,
             CASE t.rid % 8 WHEN 6 THEN 404 WHEN 7 THEN 301
                  ELSE 200 END AS status
      FROM range(0, {_N_SHARDS * cops.RECORDS_PER_SHARD}) t(rid)
    )
"""

# digest pair i (0-based) of md5(key) as an integer
def _kp(i: str) -> str:
    return (
        "CAST(('0x' || substr(hx, CAST(2 * (" + i + ") + 1 AS INT), 2))"
        " AS INT)"
    )


# structural params: P paragraphs (pair15 % 3 + 2), L links (pair14 % 3)
_P_EXPR = f"({_kp('15')} % 3 + 2)"
_L_EXPR = f"({_kp('14')} % 3)"


# shared by the batch query below and the streaming twin
# (queries/streaming_q.streaming_warc_ingest)
WARC_INGEST_ORACLE = f"""
    WITH {_R_BASE}, d AS (
      SELECT rid, status,
             md5(CAST(key AS VARCHAR)) AS hx
      FROM r
    ), b AS (
      -- body length: the HTML template is affine in (P, L) with fixed
      -- part 171 / paragraph line 31 / link line 26 (pinned by
      -- tests/test_crawl.py against the live generator); 404 and 301
      -- bodies are fixed
      SELECT rid, status,
        CASE WHEN status = 200
             THEN 171 + {cops.PARA_LINE_LEN} * {_P_EXPR}
                      + {cops.LINK_LINE_LEN} * {_L_EXPR}
             WHEN status = 404 THEN 10 ELSE 0 END AS body_len
      FROM d
    )
    SELECT status,
           COUNT(*) AS n_records,
           CAST(SUM(body_len) AS BIGINT) AS total_body_bytes,
           ROUND(AVG(body_len), 4) AS avg_body_bytes
    FROM b
    GROUP BY status
    """


@register("warc_ingest_stats", oracle=WARC_INGEST_ORACLE)
def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.warc.gz shard ingestion certified end-to-end: gzip member walk,
    WARC header parse, HTTP envelope parse (both Content-Length
    declarations validated), rolled up per HTTP status. The oracle
    re-derives every body length from the generation arithmetic — a
    mis-framed body, skipped member, or header-offset bug changes the
    sums."""
    records = cops.parse_warc_records(
        cops.synth_warc_shards(spark, n_shards=_N_SHARDS)
    )
    return records.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("body_bytes").cast("bigint").alias("total_body_bytes"),
        F.round(F.avg("body_bytes"), 4).alias("avg_body_bytes"),
    )


# position-weighted checksum over the extracted hex words: position
# (1-based) x value, paragraph words first (digest pairs cycled), then
# link words (pairs 8+k)
_PW_EXPR = f"""
      CAST(list_sum(list_transform(range(0, 8 * {_P_EXPR}), j ->
        CAST((j + 1) * {_kp('j % 16')} AS BIGINT))) AS BIGINT)
      + COALESCE(CAST(list_sum(list_transform(range(0, {_L_EXPR}), k ->
          CAST((8 * {_P_EXPR} + k + 1) * {_kp('8 + k')} AS BIGINT)))
          AS BIGINT), 0)
"""


@register(
    "html_text_extraction_stats",
    oracle=f"""
    WITH {_R_BASE}, d AS (
      SELECT key, md5(CAST(key AS VARCHAR)) AS hx
      FROM r WHERE status = 200
    ), f AS (
      SELECT key,
             {_L_EXPR} AS n_links,
             2 + 8 * {_P_EXPR} + 2 * {_L_EXPR} AS n_words,
             {_PW_EXPR} AS pw
      FROM d
    )
    SELECT n_links,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT key) AS BIGINT) AS distinct_titles,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(pw) AS BIGINT) AS total_pw
    FROM f
    GROUP BY n_links
    """,
)
def html_text_extraction_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HTML -> text extraction certified positionally: the extractor
    must exclude script/style/comment/head content, keep body words in
    document order, and count links — the oracle re-derives the word
    stream from the digest convention. The position-weighted checksum
    is the certificate word counts cannot give: a decoy-leaking or
    block-reordering extractor shifts positions and fails the hash even
    when counts survive."""
    ext = cops.extract_html_text(
        cops.parse_warc_records(
            cops.synth_warc_shards(spark, n_shards=_N_SHARDS)
        )
    )
    hexw = "filter(split(text, ' '), w -> w rlike '^[0-9a-f]{2}$')"
    pw = F.expr(
        f"""
        CASE WHEN size({hexw}) = 0 THEN 0L ELSE
          aggregate(
            zip_with({hexw}, sequence(1, size({hexw})),
                     (w, i) -> CAST(i AS BIGINT)
                               * CAST(conv(w, 16, 10) AS BIGINT)),
            0L, (acc, x) -> acc + x)
        END
        """
    )
    return (
        ext.withColumn("pw", pw)
        .groupBy("n_links")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("title").cast("bigint").alias(
                "distinct_titles"
            ),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("pw").cast("bigint").alias("total_pw"),
        )
    )


@register(
    "crawl_corpus_funnel",
    oracle=f"""
    WITH {_R_BASE}, e AS (
      SELECT rid, key, status,
        CASE WHEN status = 200 THEN
          2 + 8 * {_P_EXPR.replace('hx', "md5(CAST(key AS VARCHAR))")}
            + 2 * {_L_EXPR.replace('hx', "md5(CAST(key AS VARCHAR))")}
        END AS n_words
      FROM r
    )
    SELECT stage, n_records FROM (
      SELECT 'fetched' AS stage, CAST(COUNT(*) AS BIGINT) AS n_records,
             0 AS ord
      FROM e
      UNION ALL
      SELECT 'http_ok', CAST(COUNT(*) AS BIGINT), 1 FROM e
      WHERE status = 200
      UNION ALL
      SELECT 'parsed_min_words', CAST(COUNT(*) AS BIGINT), 2 FROM e
      WHERE n_words >= 20
      UNION ALL
      SELECT 'unique_text', CAST(COUNT(DISTINCT key) AS BIGINT), 3
      FROM e WHERE n_words >= 20
    ) s
    """,
)
def crawl_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-corpus attrition funnel: fetched records -> HTTP
    200s -> documents passing a minimum extracted word count -> unique
    texts after exact dedup. One annotated record-grain pass with
    conditional aggregation (the corpus_filter_funnel pattern) instead
    of per-stage legs; the dedup stage counts distinct extracted texts,
    which the oracle equates to distinct content keys because text is a
    pure function of the key — the duplicate rids planted by the shard
    generator MUST collapse, or the count diverges."""
    records = cops.parse_warc_records(
        cops.synth_warc_shards(spark, n_shards=_N_SHARDS)
    )
    # ONE pass: the extractor carries every record through with status
    # attached (null extraction fields for non-HTML rows) — the old
    # record-grain self-join re-ran the WARC parse on both legs
    ann = cops.extract_html_text(records, include_non_html=True)
    min_ok = F.col("n_words") >= 20
    agg = ann.agg(
        F.count(F.lit(1)).cast("bigint").alias("fetched"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
        .cast("bigint")
        .alias("http_ok"),
        F.sum(F.when(min_ok, 1).otherwise(0))
        .cast("bigint")
        .alias("parsed_min_words"),
        F.countDistinct(F.when(min_ok, F.col("text")))
        .cast("bigint")
        .alias("unique_text"),
    )
    return agg.selectExpr(
        "stack(4, 'fetched', fetched, 'http_ok', http_ok, "
        "'parsed_min_words', parsed_min_words, "
        "'unique_text', unique_text) AS (stage, n_records)"
    )


# ---------------------------------------------------------------------------
# Gzip JSONL ingestion with corrupt-record quarantine (r10): the OTHER
# arrival format of real corpora (the WARC path above covers crawls; JSONL
# covers dataset dumps). Native Spark json source, PERMISSIVE mode.

from ..operators import jsonl as jops

jops_corrupt_sql = jops.corrupt_pred_sql() + " AS corrupt"


def _jsonl_shards(spark: SparkSession, sf_dir: str) -> str:
    """Write-once gzip JSONL shards derived from the documents table
    (operators/jsonl.write_jsonl_gz), memoized per (session, sf_dir) so
    bench repetitions price the READ path, not the synth write. The
    directory is removed at interpreter exit."""

    def write() -> str:
        path = exit_tempdir("tapt_jsonl_") + "/docs"
        jops.write_jsonl_gz(tables.load_table(spark, sf_dir, "documents"), path)
        return path

    return session_memo(spark, "crawl.jsonl", (sf_dir,), write)


# shared by the batch query below and the streaming twin
# (queries/streaming_q.streaming_jsonl_ingest): the drained stream must
# equal the same table-derived SQL, proving stream == batch == oracle
JSONL_INGEST_ORACLE = f"""
    WITH tagged AS (
      SELECT lang, length(text) AS text_chars,
             {jops_corrupt_sql}
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(text_chars) AS BIGINT) AS total_chars
    FROM tagged WHERE NOT corrupt GROUP BY lang
    UNION ALL
    SELECT '<quarantined>' AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST({jops.CORRUPT_PREFIX_LEN} * COUNT(*) AS BIGINT) AS total_chars
    FROM tagged WHERE corrupt
    """


def jsonl_quarantine_rollup(parsed: DataFrame) -> DataFrame:
    """ONE pass routes both legs (clean rows keyed by lang, quarantined
    rows to a dead-letter group) — also sidesteps Spark's rule that a
    query may not reference ONLY the corrupt-record column. Stateless
    aggregation over stateless parse: applies unchanged to the
    streaming frame."""
    is_bad = F.col("_corrupt_record").isNotNull()
    return parsed.groupBy(
        F.when(is_bad, F.lit("<quarantined>"))
        .otherwise(F.col("lang"))
        .alias("lang")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(is_bad, F.length("_corrupt_record")).otherwise(
                F.length("text")
            )
        )
        .cast("bigint")
        .alias("total_chars"),
    )


@register("jsonl_ingest_stats", oracle=JSONL_INGEST_ORACLE)
def jsonl_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every document through real JSON encode → gzip shard →
    Spark's native PERMISSIVE json reader, with hash-planted malformed
    lines quarantined into `_corrupt_record` (never dropped, never
    fatal). The oracle derives the clean/quarantined aggregates from
    the source table arithmetic — matching them requires the full
    decode to preserve every character of every text (including escaped
    control characters) and to route exactly the planted lines to the
    dead-letter bucket.

    Scale: the json parse is distributed whole-stage codegen over gzip
    shards; at 100 TB the same two-line read works against a sharded
    corpus root (gzip is non-splittable per FILE, so parallelism =
    shard count — the write side shards accordingly)."""
    parsed = jops.read_jsonl_quarantine(spark, _jsonl_shards(spark, sf_dir))
    return jsonl_quarantine_rollup(parsed)


# ---------------------------------------------------------------------------
# End-to-end crawl-to-corpus pipeline: WARC parse ->
# HTML extract -> language-ID -> MinHash-LSH dedup -> quality filter ->
# train split, ONE oracled funnel with per-stage retention counts — the
# C4/RefinedWeb shape. Every stage is individually oracled elsewhere;
# this composition certifies the INTERFACES: the oracle reconstructs
# each document's extracted text purely arithmetically from the shard
# convention and then replays the language classifier, the full
# 64-hash MinHash-LSH sketch, the quality composite, and the split
# hash over that reconstruction — so a green row proves the Spark side
# extracted exactly the right text AND every downstream operator
# consumed it exactly as specified.

_PIPE_MIN_WORDS = 24
_PIPE_MIN_QUALITY = 36.0
_PIPE_JACCARD = 0.5
_PIPE_TRAIN_BUCKETS = 8000  # of sampling.SPLIT_BUCKETS = 10000 (80%)


def _pipeline_oracle() -> str:
    from ..operators import dedup as dops
    from ..operators.sampling import split_bucket_sql
    from .dedup import _minhash_banded_cte, _minhash_sig_ctes
    from .text import _LANG_PRED_SQL, _lang_hits_legs, quality_scores_sql

    n = dops.DEFAULT_NUM_HASHES
    eq_sum = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    # extracted text reconstructed from the synthesis convention: h1
    # words ('doc', zero-padded key), P paragraphs x 8 hex-pair words
    # (digest positions cycled mod 16), then per link 'link' + its word
    text_expr = f"""
      concat(
        'doc ', lpad(CAST(key AS VARCHAR), 5, '0'), ' ',
        array_to_string(list_transform(range(0, 8 * {_P_EXPR}),
          j -> substr(hx, (CAST(j AS INT) % 16) * 2 + 1, 2)), ' '),
        CASE WHEN {_L_EXPR} > 0
             THEN ' ' || array_to_string(list_transform(
                    range(0, {_L_EXPR}),
                    k -> 'link ' || substr(hx, (8 + CAST(k AS INT)) * 2 + 1, 2)),
                  ' ')
             ELSE '' END
      )
    """
    # classifier ranking + quality composite come from the SHARED
    # builders the standalone text oracles use (a marker / weight /
    # rounding change must have ONE SQL copy to edit); the
    # lang CTEs are named tok/hits because that is the contract those
    # builders expect, so the minhash CTEs take the "m" prefix
    return f"""
    WITH {_R_BASE},
    texts AS (
      SELECT rid AS doc_id,
             2 + 8 * {_P_EXPR} + 2 * {_L_EXPR} AS n_words,
             {text_expr} AS text
      FROM (SELECT rid, key, md5(CAST(key AS VARCHAR)) AS hx
            FROM r WHERE status = 200) d
    ),
    words_ok AS (
      SELECT doc_id, text FROM texts WHERE n_words >= {_PIPE_MIN_WORDS}
    ),
    tok AS (
      SELECT doc_id, list_distinct({dops.TOKENS_SQL}) AS toks FROM words_ok
    ),
    hits AS (
      {_lang_hits_legs()}
    ),
    pred AS (
      {_LANG_PRED_SQL}
    ),
    lang_ok AS (
      SELECT w.doc_id, w.text FROM words_ok w
      JOIN pred p USING (doc_id) WHERE p.predicted_lang = 'de'
    ),
    {_minhash_sig_ctes(source="lang_ok", prefix="m")},
    {_minhash_banded_cte(source="msig")},
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dom AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c
      JOIN msig sa ON sa.doc_id = c.id_a
      JOIN msig sb ON sb.doc_id = c.id_b
      WHERE CAST({eq_sum} AS DOUBLE) / {n} >= {_PIPE_JACCARD}
    ),
    uniq AS (
      SELECT l.doc_id, l.text FROM lang_ok l
      WHERE l.doc_id NOT IN (SELECT doc_id FROM dom)
    ),
    qual AS (
      SELECT doc_id FROM ({quality_scores_sql("uniq")}) q
      WHERE quality_score >= {_PIPE_MIN_QUALITY}
    ),
    train AS (
      SELECT doc_id FROM qual
      WHERE {split_bucket_sql("doc_id")} < {_PIPE_TRAIN_BUCKETS}
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n_records AS BIGINT) AS n_records
    FROM (
      SELECT 0 AS stage_idx, 'fetched' AS stage, COUNT(*) AS n_records
      FROM r
      UNION ALL
      SELECT 1, 'http_ok', COUNT(*) FROM r WHERE status = 200
      UNION ALL
      SELECT 2, 'min_words', COUNT(*) FROM words_ok
      UNION ALL
      SELECT 3, 'lang_ok', COUNT(*) FROM lang_ok
      UNION ALL
      SELECT 4, 'minhash_unique', COUNT(*) FROM uniq
      UNION ALL
      SELECT 5, 'quality_ok', COUNT(*) FROM qual
      UNION ALL
      SELECT 6, 'train_split', COUNT(*) FROM train
    ) s
    """


@register("crawl_to_corpus_pipeline", oracle=_pipeline_oracle())
def crawl_to_corpus_pipeline(
    spark: SparkSession, sf_dir: str, n_shards: int = _N_SHARDS
) -> DataFrame:
    """The full crawl-to-training-corpus funnel in one query: fetched
    records -> HTTP 200s -> minimum extracted word count -> language
    gate -> MinHash-LSH dedup (keep-lowest-id) -> quality-composite
    floor -> train-split membership, with per-stage retention counts.

    Language stage semantics on this corpus: the synthetic text is hex
    words, so documents have ZERO language-marker hits and the
    classifier's deterministic tie-break labels them 'de' — EXCEPT
    documents whose digest contains the hex pair 'de', which is also a
    Spanish marker word ('de') and flips them to 'es'. The gate keeps
    the 'de' majority; the ~6% flip-outs are real, varying attrition
    that certifies the marker matching + tie-break through the
    composition (the oracle replays both over its text reconstruction).

    Scale shape: the annotated extraction output is persisted ONCE
    (the natural pipeline barrier — the MinHash sketch and the final
    rollup both consume it). Every stage is doc-grain: the only non-map
    stages are the MinHash groupBy, the banded self-join (equi-join on
    band hash, never all-pairs), the doc-grain flag join and the one
    1-row rollup. Nothing corpus-wide ever collects."""
    from pyspark import StorageLevel

    from ..operators import dedup as dedup_ops
    from ..operators import sampling
    from ..operators import text as text_ops
    from .funnel import stage_counts

    records = cops.parse_warc_records(
        cops.synth_warc_shards(spark, n_shards=n_shards)
    )
    # Language and quality are column expressions, annotated inline
    # over every fetched record, so they run once at materialization
    # instead of once per consumer (the LSH branch and the rollup).
    flagged = (
        cops.extract_html_text(records, include_non_html=True)
        .select(
            (
                F.col("shard_id") * cops.RECORDS_PER_SHARD
                + F.col("record_idx")
            ).alias("doc_id"),
            "status",
            "text",
            "n_words",
        )
        .withColumn(
            "predicted_lang", text_ops.predicted_lang_col("text")
        )
        .withColumn(
            "f_words",
            (F.col("status") == 200)
            & (F.col("n_words") >= _PIPE_MIN_WORDS),
        )
        .withColumn(
            "f_lang",
            F.col("f_words") & (F.col("predicted_lang") == "de"),
        )
        # computed over the lang SURVIVORS only: NULL for gate
        # failures, whose f_qual is false via f_uniq regardless
        .withColumn(
            "quality_score",
            F.when(F.col("f_lang"), text_ops.quality_score_col("text")),
        )
        # MEMORY_AND_DISK: corpus-sized with the text payload (the LSH
        # branch consumes text), so eviction at scale would re-run the
        # extraction and the annotators per consumer
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s_lang = flagged.where(F.col("f_lang")).select("doc_id", "text")
    dominated = (
        dedup_ops.minhash_lsh_pairs(
            s_lang, jaccard_threshold=_PIPE_JACCARD
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dom", F.lit(True))
    )
    enriched = (
        flagged.join(dominated, "doc_id", "left")
        .withColumn("f_uniq", F.col("f_lang") & F.col("is_dom").isNull())
        .withColumn(
            "f_qual",
            F.col("f_uniq")
            & (F.col("quality_score") >= _PIPE_MIN_QUALITY),
        )
        .withColumn(
            "f_train",
            F.col("f_qual")
            & (
                sampling.split_bucket(F.col("doc_id"))
                < _PIPE_TRAIN_BUCKETS
            ),
        )
    )

    return stage_counts(
        enriched,
        [
            ("fetched", F.lit(True)),
            ("http_ok", F.col("status") == 200),
            ("min_words", F.col("f_words")),
            ("lang_ok", F.col("f_lang")),
            ("minhash_unique", F.col("f_uniq")),
            ("quality_ok", F.col("f_qual")),
            ("train_split", F.col("f_train")),
        ],
        count="n_records",
    )


# Synth-data census for the bench rebaseline trigger (see
# queries/multimodal.py DATA_CENSUS): every crawl query synthesizes the
# same WARC shard table, so growing _N_SHARDS or the per-shard record
# count now resets the affected medians instead of flagging forever.
DATA_CENSUS: dict[str, dict] = {
    name: {
        "warc_shards": _N_SHARDS,
        "records_per_shard": cops.RECORDS_PER_SHARD,
    }
    for name in (
        "warc_ingest_stats",
        "html_text_extraction_stats",
        "crawl_corpus_funnel",
        "crawl_to_corpus_pipeline",
    )
}
