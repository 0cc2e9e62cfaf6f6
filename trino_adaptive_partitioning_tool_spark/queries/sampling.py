"""Deterministic sampling / split / packing queries (training-pipeline
surface; no reference analog — the reference has no sampling ops).

All three are hash-deterministic (operators/sampling.py), so each has a
full DuckDB oracle: the 60-bit md5 bucket is bit-identical across
engines (operators/dedup.md5_60 / md5_60_sql)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling
from ..operators.dedup import TOKENS_SQL, md5_60_sql, tokens_expr
from ..sources import tables
from .registry import register

_BUCKET_SPLIT = sampling.split_bucket_sql("doc_id", salt="split")
_BUCKET_SAMPLE = sampling.split_bucket_sql("doc_id", salt="sample")

_SAMPLE_FRACTIONS = {"en": 0.5, "de": 1.0, "zh": 0.25}


@register(
    "train_test_split_counts",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN {_BUCKET_SPLIT} < 8000 THEN 'train'
                  WHEN {_BUCKET_SPLIT} < 9000 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM tagged GROUP BY split, lang
    """,
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed 80/10/10 split of the corpus: stable under re-runs,
    re-partitioning, and backfills (no RNG, no global count)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(docs, "doc_id", 0.8, 0.1)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "stratified_sample_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE {_BUCKET_SAMPLE} <
      CASE lang WHEN 'de' THEN 10000 WHEN 'en' THEN 5000
                WHEN 'zh' THEN 2500 ELSE 1000 END
    GROUP BY lang
    """,
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (rebalancing a corpus):
    keep 100% de, 50% en, 25% zh, 10% elsewhere — same rows every run,
    map-only (the hash predicate evaluates right above the scan)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    sampled = sampling.stratified_sample(
        docs, "lang", "doc_id", _SAMPLE_FRACTIONS, default_frac=0.1
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_SOURCE_CAP = 18
_CAP_ORDER = md5_60_sql("concat_ws('|', 'cap', CAST(doc_id AS VARCHAR))")


@register(
    "source_cap_report",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY {_CAP_ORDER}, doc_id
             ) AS r
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r <= {_SOURCE_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r > {_SOURCE_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN r <= {_SOURCE_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def source_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap enforcement ("domain throttling"): at most
    {_SOURCE_CAP} documents kept per source, chosen by stable id-hash
    rank (operators/sampling.cap_per_group) — the curation step that
    stops one domain from dominating the mixture. Reports per-source
    attrition; the oracle replays the identical hash-ranked window."""
    docs = tables.load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from ..operators.dedup import md5_60

    order = md5_60(
        F.concat_ws("|", F.lit("cap"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(order.asc(), F.col("doc_id"))
    return (
        docs.withColumn("r", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("r") <= _SOURCE_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("r") > _SOURCE_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(
                F.when(F.col("r") <= _SOURCE_CAP, F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "sequence_packing_stats",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
        CAST(len({TOKENS_SQL}) AS BIGINT) AS token_count,
        ({md5_60_sql("CAST(doc_id AS VARCHAR)")} % 4) AS shard,
        {md5_60_sql("concat_ws('|', 'packorder', CAST(doc_id AS VARCHAR))")}
          AS pack_order
      FROM documents
    ), s AS (
      SELECT lang, shard, token_count,
        COALESCE(SUM(token_count) OVER (
          PARTITION BY lang, shard ORDER BY pack_order, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS tokens_before
      FROM t
    )
    SELECT lang, shard,
      CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS pack_id,
      COUNT(*) AS n_docs,
      CAST(SUM(token_count) AS BIGINT) AS pack_tokens
    FROM s GROUP BY lang, shard, pack_id
    """,
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token context bins per (lang, shard) by
    offset binning in stable hash order — the deterministic batch-packing
    step of a pretraining pipeline. Parallelism = langs x shards,
    independent of corpus size."""
    docs = tables.load_table(spark, sf_dir, "documents").withColumn(
        "token_count", F.size(tokens_expr("text")).cast("bigint")
    )
    packed = sampling.pack_sequences(
        docs, "lang", "doc_id", "token_count", budget=512, n_shards=4
    )
    return packed.groupBy("lang", "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").alias("pack_tokens"),
    )


def _packing_manifest_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT lang, doc_id,
        CAST(len({TOKENS_SQL}) AS BIGINT) AS token_count,
        ({md5_60_sql("CAST(doc_id AS VARCHAR)")} % 4) AS shard,
        {md5_60_sql("concat_ws('|', 'packorder', CAST(doc_id AS VARCHAR))")}
          AS pack_order
      FROM documents
    ), s AS (
      SELECT lang, doc_id, token_count, shard, pack_order,
        COALESCE(SUM(token_count) OVER (
          PARTITION BY lang, shard ORDER BY pack_order, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS tokens_before
      FROM t
    ), p AS (
      SELECT *, CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS pack_id
      FROM s
    )
    SELECT lang,
      CAST(shard AS BIGINT) AS shard,
      pack_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY lang, shard, pack_id ORDER BY pack_order, doc_id
      ) AS BIGINT) AS seq_in_pack,
      doc_id,
      token_count,
      CAST(tokens_before - pack_id * 512 AS BIGINT) AS pack_offset
    FROM p
    """


@register("sequence_packing_manifest", oracle=_packing_manifest_oracle())
def sequence_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materializable per-document packing artifact (operators/
    sampling.pack_sequences_manifest): every document's pack assignment,
    in-pack sequence position, token count, and in-pack start offset —
    hash-checked per document, so the driver certifies the exact batch
    layout a loader would reconstruct, not just pack-level stats.
    Round-trip through parquet is verified in tests/test_sampling.py."""
    docs = tables.load_table(spark, sf_dir, "documents").withColumn(
        "token_count", F.size(tokens_expr("text")).cast("bigint")
    )
    return sampling.pack_sequences_manifest(
        docs.select("lang", "doc_id", "token_count"),
        "lang",
        "doc_id",
        "token_count",
        budget=512,
        n_shards=4,
    )
