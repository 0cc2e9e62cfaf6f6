"""Deduplication operators for LLM-training-data pipelines.

Not present in the reference (its surface stops at partition advice); these
are the BASELINE.json extension operators, designed for 100 TB first:

  exact_duplicates      one hash-aggregate shuffle on the dedup key
  minhash_signatures    shingle → k minhashes, one explode + one groupBy
  minhash_lsh_pairs     band-bucket join → candidate pairs → exact-Jaccard
                        verify (the standard MinHash-LSH pipeline: no
                        all-pairs product ever materializes)
  simhash_signatures    64-bit simhash via per-bit vote aggregation
  simhash_near_pairs    hamming-banded candidate generation
  token_jaccard_pairs   exact token-set Jaccard for a candidate pair set

Scale notes: every pairing step goes through an equi-join on a bucket key
(band hash / simhash chunk), so the shuffle is proportional to data +
candidate volume, never to n². The base hash is a 60-bit integer from the
md5 hex prefix (`md5_60`): deterministic across runs and executors, no
Python in the hot path, and — unlike xxhash64 — bit-for-bit reproducible
in DuckDB (`('0x' || substr(md5(x),1,15))::BIGINT`), so every sketch
built on it is oracle-checkable, not just rows-checkable. 60 bits keeps
every value positive in signed int64 on both engines (no ANSI overflow,
no sign-extension mismatch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 64
DEFAULT_BANDS = 16  # 16 bands x 4 rows: catches J >~ 0.6 w.h.p.
DEFAULT_SHINGLE_K = 3
SIMHASH_BITS = 60


def md5_60(col: Column) -> Column:
    """60-bit non-negative integer hash: first 15 hex chars of md5.

    DuckDB equivalent (oracle side): ('0x' || substr(md5(x),1,15))::BIGINT.
    md5 is JVM whole-stage-codegen on the Spark side (no UDF)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_60_sql(expr: str) -> str:
    """The DuckDB rendering of md5_60 for oracle-SQL builders."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def ensure_parallelism(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Spread CPU-bound per-row work across cores when the scan itself
    can't: a parquet file with one giant row group reads as a single
    task, so everything narrow above it (hashing, shingling, votes) runs
    single-threaded. When the input partitioning is far below the
    session's parallelism, one narrow repartition fixes that; on
    well-split inputs (the 100 TB case — many files / row groups) this
    is a no-op, so no shuffle is added where the scan already fans out."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # len(inputFiles()) is a metadata-only lower bound on scan tasks
    # (each file is >= 1 partition); df.rdd.getNumPartitions() would be
    # exact but materializes the Python RDD conversion per call and
    # bypasses AQE's view of the plan. The bound errs toward
    # repartitioning (few files, many row groups), which is the safe
    # direction for CPU-bound per-row work; on well-split inputs (many
    # files — the 100 TB case) the bound already exceeds the target and
    # no shuffle is added. Non-scan inputs (empty inputFiles) fall back
    # to the exact count.
    n_parts = len(df.inputFiles()) or df.rdd.getNumPartitions()
    if n_parts * min_factor <= target:
        return df.repartition(target)
    return df


def tokens_expr(text_col: str = "text"):
    """Lowercased whitespace tokens (empty strings filtered).

    Cross-engine parity envelope (fuzz-pinned in
    tests/test_cross_engine_fuzz.py): byte-identical to the DuckDB
    oracle rendering over ASCII, accented Latin, ß, CJK, emoji and
    control whitespace. Known divergences — all in the CASE-MAPPING /
    TRIM layer, not the hashing layer: Turkish İ (JVM lower() keeps the
    combining dot), Greek capital Σ (JVM applies final-sigma ς), and
    Unicode spaces incl. NBSP (DuckDB trim() strips them at string
    edges, Java's does not). md5_60 itself is byte-true on every input."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )


# DuckDB twin of tokens_expr("text") for the oracles
TOKENS_SQL = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
)


def shingles_expr(tokens, k: int = DEFAULT_SHINGLE_K):
    """k-token shingles of a token array (distinct), JVM-side only:
    transform over a sliding index sequence + concat_ws.

    The input expression is BOUND ONCE via a single-element transform
    before use: the shingle logic references the token array four times
    (size guard, index bound, per-position slice, short-doc fallback),
    and the per-position slice sits inside a lambda — inlining an
    unevaluated `tokens` expression there re-tokenizes the whole
    document for every shingle position, turning an O(tokens) projection
    into O(tokens x positions). Catalyst collapses projections, so a
    plain intermediate column does not prevent that; a lambda variable
    is evaluated exactly once by construction."""

    def _sh(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.array_distinct(
            F.when(
                n >= k,
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
                ),
            ).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return F.transform(F.array(tokens), _sh)[0]


def exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups of rows identical on key_cols; one shuffle on the key hash."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def _xor_family_constants(n: int) -> list[int]:
    """Deterministic XOR constants for the minhash family (seeded). Kept
    in [0, 2^60) so h XOR c stays a non-negative 60-bit value on both
    engines (DuckDB xor() and Spark bitwiseXOR agree exactly)."""
    import numpy as np

    rng = np.random.default_rng(1234567)
    return [int(x) for x in rng.integers(0, 2**60, size=n, dtype=np.int64)]


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """(id, minhash array<bigint>) — XOR-fold minhash family: each shingle
    string is md5_60'd ONCE (the expensive hash), then the i-th family
    member is min over shingles of (hash XOR C_i) for fixed constants C_i
    — so a full k-hash family costs one real hash per shingle.

    Shape: explode tokens → lead() window forms each k-token shingle
    string → 64 codegen'd `min(h XOR C_i)` aggregates in ONE groupBy
    (map-side partial min → the shuffle carries 64 longs per doc
    regardless of document length). Deliberately NOT a nested
    array-transform expression: Spark's higher-order array functions run
    on the interpreted path and allocate an intermediate array per
    (constant x row) — measured 50x slower than this codegen'd aggregate
    form at sf0.1. md5_60 (not xxhash64) keeps every stage DuckDB-
    reproducible, so the LSH output itself is oracle-checked.
    """
    from pyspark.sql import Window

    consts = _xor_family_constants(num_hashes)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "token"),
    ).where(F.col("token") != "")
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("token")] + [
        F.lead("token", i).over(w) for i in range(1, shingle_k)
    ]
    # No distinct() on (id, h): min(h XOR c) over a multiset equals min
    # over the set, so duplicate shingles can't change any signature —
    # and dropping it removes a whole extra shuffle of the shingle
    # stream. The window already hash-partitioned by id, so the groupBy
    # below reuses that distribution with no further exchange.
    shingled = toks.select(
        "id",
        F.when(
            F.lead("token", shingle_k - 1).over(w).isNotNull(),
            md5_60(F.concat_ws(" ", *parts)),
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    # documents shorter than k tokens have no complete shingle — they
    # contribute one whole-token-joined hash so they still get a signature
    short = docs.select(
        F.col(id_col).alias("id"),
        md5_60(F.array_join(tokens_expr(text_col), " ")).alias("h"),
    ).where(F.size(tokens_expr(text_col)) < shingle_k)
    shingled = shingled.unionByName(short)
    aggs = [
        F.min(F.col("h").bitwiseXOR(F.lit(c).cast("bigint"))).alias(f"h{i}")
        for i, c in enumerate(consts)
    ]
    return (
        shingled.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                "minhash"
            ),
        )
    )


def minhash_signature_expr(
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> Column:
    """Per-row array<bigint> minhash signature — the STATELESS twin of
    minhash_signatures (no window, no groupBy), legal inside a streaming
    projection. Same family math (min over shingle md5s XOR C_i), so the
    values are identical to the batch operator's; the higher-order-array
    form runs on Spark's interpreted path and is only for small per-batch
    streams — batch corpora should keep the codegen'd aggregate form."""
    consts = _xor_family_constants(num_hashes)
    hs_expr = F.transform(
        shingles_expr(tokens_expr(text_col), shingle_k), md5_60
    )

    def _sig(hs):
        return F.array(
            *[
                F.array_min(
                    F.transform(
                        hs, lambda h: h.bitwiseXOR(F.lit(c).cast("bigint"))
                    )
                )
                for c in consts
            ]
        )

    # bind the shingle-hash array once (same lambda-binding trick as
    # shingles_expr — inlining hs_expr would re-hash per constant)
    return F.transform(F.array(hs_expr), _sig)[0]


def band_hashes(
    sigs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, minhash, band, band_hash): the LSH banding step over an
    (id, minhash) frame — md5_60 of each band's signature slice. Shared
    by the batch self-join pipeline and the streaming ingest gate."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "id",
        "minhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    md5_60(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("minhash"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("id", "minhash", "bh.band", "bh.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard, n_common_bands).

    Pipeline: signatures → band hashes → self-join on (band, band_hash) →
    distinct candidate pairs → estimated Jaccard from full signature
    agreement → threshold filter. The self-join is on the band-hash key,
    so only docs sharing a band collide (candidate volume, not n²).
    """
    # materialize signatures before the self-join: the map-only signature
    # plan has no shuffle boundary, so without this both join sides (x 16
    # bands) would re-evaluate the whole tokenize→shingle→hash expression
    # tree. Signatures are tiny (num_hashes longs per doc) — cache is the
    # standard LSH pipeline barrier at any scale.
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_k
    ).cache()

    banded = band_hashes(sigs, num_hashes, bands)

    left = banded.select(
        F.col("id").alias("id_a"),
        F.col("minhash").alias("mh_a"),
        "band",
        "band_hash",
    )
    right = banded.select(
        F.col("id").alias("id_b"),
        F.col("minhash").alias("mh_b"),
        "band",
        "band_hash",
    )
    pairs = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.first("mh_a").alias("mh_a"),
            F.first("mh_b").alias("mh_b"),
            F.count(F.lit(1)).alias("n_common_bands"),
        )
    )
    # NOT rounded: n/num_hashes is exactly representable for power-of-two
    # num_hashes, and round() half-way behavior differs across engines —
    # the raw ratio hash-compares exactly.
    est = F.size(
        F.filter(
            F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda a, b: a == b),
            lambda x: x,
        )
    ).cast("double") / F.lit(float(DEFAULT_NUM_HASHES if num_hashes is None else num_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard", "n_common_bands")
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash bigint) — classic simhash: each token votes ±1 on every
    bit of its 60-bit md5_60 hash; the sign vector becomes the fingerprint.

    One explode + one groupBy; per-bit vote columns are summed map-side.
    60 bits (not 64): the value stays non-negative in signed int64, so
    shifts/masks agree between Spark and DuckDB and the whole signature
    is oracle-checkable.
    """
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(tokens_expr(text_col)).alias("token"),
    ).withColumn("th", md5_60(F.col("token")))
    # per-bit ±1 vote columns, summed map-side in ONE groupBy (shiftright
    # needs a Python-int bit count, so the bits unroll here, not in a
    # transform() lambda)
    vote_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = toks.groupBy("id").agg(*vote_aggs)
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"v{i}") > 0, F.lit(1 << i).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return per_doc.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs within `max_hamming` bits. Candidate generation by the
    pigeonhole trick: split the 60 bits into `chunks` 15-bit chunks — any
    pair within max_hamming ≤ chunks-1 must agree on ≥1 chunk, so the join
    key is (chunk_idx, chunk_value), never all-pairs."""
    # same signature-cache barrier as minhash_lsh_pairs: the map-only
    # signature plan has no shuffle boundary, so without this BOTH join
    # sides would re-run the tokenize→hash→60-vote aggregation
    sigs = simhash_signatures(docs, id_col, text_col).cache()
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("chunk_val"),
        )
        for i in range(chunks)
    ]
    chunked = sigs.select(
        "id",
        "simhash",
        F.explode(F.array(*chunk_structs)).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val")

    left = chunked.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "chunk_idx", "chunk_val",
    )
    right = chunked.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "chunk_idx", "chunk_val",
    )
    cands = (
        left.join(right, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def token_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact distinct-token Jaccard for given (id_a, id_b) pairs — the
    verify stage after LSH candidate generation. Joins token sets in,
    computes |A∩B| / |A∪B| with array intrinsics."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_expr(text_col)).alias("toks"),
    )
    a = tok.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = tok.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    return (
        candidate_pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard", F.round(F.when(union > 0, inter / union).otherwise(0.0), 4)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
