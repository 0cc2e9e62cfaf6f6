"""Deduplication queries over the `documents` table (extensions layer).

ALL variants — including the sketch-based ones (MinHash LSH, SimHash,
winnowing) — carry DuckDB oracles: the sketches hash with md5_60 (60-bit
md5-prefix integers, operators/dedup.md5_60), which DuckDB reproduces
bit-for-bit, so the oracle replays the identical shingle → hash → band →
join pipeline in SQL and the driver hash-compares the full output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as ops
from ..operators.dedup import TOKENS_SQL
from ..sources import tables
from .registry import register


def _minhash_sig_ctes(
    k: int = ops.DEFAULT_SHINGLE_K, source: str = "documents",
    prefix: str = "",
) -> str:
    """CTEs tok→sh→e→sig replaying minhash_signatures in DuckDB:
    k-token shingle strings, md5_60 each, 64 MIN(xor(h, C_i)) aggregates.
    `source` lets pipeline oracles (corpus_filter_funnel) run the sketch
    over a filtered CTE instead of the base table; `prefix` renames the
    CTEs so a MATERIALIZED sketch can coexist with nested sub-oracles
    that define their own `sig`/`tok` (DuckDB's materialization hoists
    the name past inner scopes)."""
    h = ops.md5_60_sql
    consts = ops._xor_family_constants(ops.DEFAULT_NUM_HASHES)
    mins = ",\n        ".join(
        f"MIN(xor(h, {c}::BIGINT)) AS h{i}" for i, c in enumerate(consts)
    )
    shingle = h(f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')")
    whole = h("array_to_string(toks, ' ')")
    p = prefix
    return f"""
    {p}tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {source}),
    {p}sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= {k}
          THEN list_transform(range(1, len(toks) - {k - 2}), i -> {shingle})
          ELSE [{whole}] END AS hs
      FROM {p}tok
    ),
    {p}e AS (SELECT doc_id, unnest(hs) AS h FROM {p}sh),
    {p}sig AS (SELECT doc_id, {mins} FROM {p}e GROUP BY doc_id)"""


def _minhash_banded_cte(
    bands: int = ops.DEFAULT_BANDS,
    num_hashes: int = ops.DEFAULT_NUM_HASHES,
    source: str = "sig",
    name: str = "banded",
) -> str:
    """banded: one row per (doc, band) with the md5_60 band-bucket hash.
    `source`/`name` let an oracle band several signature subsets (the
    streaming dedup gate bands the corpus and the ingest split
    separately)."""
    h = ops.md5_60_sql
    rpb = num_hashes // bands
    legs = []
    for b in range(bands):
        cols = ", ".join(f"h{b * rpb + j}" for j in range(rpb))
        legs.append(
            f"SELECT doc_id, {b} AS band, "
            f"{h(f'concat_ws(chr(44), {cols})')} AS band_hash FROM {source}"
        )
    return (
        f"{name} AS (\n      "
        + "\n      UNION ALL\n      ".join(legs)
        + "\n    )"
    )


def _minhash_lsh_oracle(threshold: float) -> str:
    n = ops.DEFAULT_NUM_HASHES
    eq_sum = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
    WITH {_minhash_sig_ctes()},
    {_minhash_banded_cte()},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS n_common_bands
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           CAST({eq_sum} AS DOUBLE) / {n} AS est_jaccard,
           p.n_common_bands
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    WHERE CAST({eq_sum} AS DOUBLE) / {n} >= {threshold}
    """


def _simhash_sig_ctes(bits: int = ops.SIMHASH_BITS) -> str:
    h = ops.md5_60_sql
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    return f"""
    tokrows AS (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents),
    th AS (SELECT doc_id, {h('token')} AS h FROM tokrows),
    votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id),
    sig AS (SELECT doc_id, {sim} AS simhash FROM votes)"""


def _simhash_oracle(max_hamming: int, chunks: int = 4) -> str:
    width = ops.SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    chunk_list = ", ".join(str(i) for i in range(chunks))
    return f"""
    WITH {_simhash_sig_ctes()},
    chunked AS (
      SELECT doc_id, simhash, c.c AS chunk_idx,
             (simhash >> (c.c * {width})) & {mask} AS chunk_val
      FROM sig CROSS JOIN (SELECT unnest([{chunk_list}]) AS c) c
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunked a
      JOIN chunked b
        ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


def _minhash_verified_oracle(threshold: float) -> str:
    return f"""
    WITH {_minhash_sig_ctes()},
    {_minhash_banded_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    dtok AS (SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents)
    SELECT c.id_a, c.id_b,
      ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
    FROM cand c
    JOIN dtok ta ON ta.doc_id = c.id_a
    JOIN dtok tb ON tb.doc_id = c.id_b
    WHERE ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.toks, tb.toks))), 4)
          >= {threshold}
    """


@register(
    "dedup_exact",
    oracle="""
    SELECT
      CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
      COUNT(*) AS dup_count,
      CAST(MIN(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (full-text) dedup: one canonical row per distinct text — a
    single hash-aggregate, the 100 TB-safe shape."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT
      CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
      COUNT(*) AS dup_count
    FROM documents
    GROUP BY text
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Only the actual duplicate groups (dup_count > 1)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.exact_duplicates(docs, ["text"], "doc_id").select(
        "canonical_id", "dup_count"
    )


@register(
    "dedup_token_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
      FROM documents
    )
    SELECT
      a.doc_id AS id_a,
      b.doc_id AS id_b,
      ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
    FROM tok a
    JOIN tok b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
    """,
)
def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-token Jaccard ≥ 0.8 within (lang, source) blocks —
    blocked pairing keeps the join quadratic only within small groups
    (classic blocking strategy; at scale the blocks are the shuffle key).
    """
    docs = tables.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", "source",
        F.array_distinct(ops.tokens_expr("text")).alias("toks"),
    )
    a = tok.select(
        F.col("doc_id").alias("id_a"), "lang", "source",
        F.col("toks").alias("toks_a"),
    )
    b = tok.select(
        F.col("doc_id").alias("id_b"), "lang", "source",
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    raw = inter / union
    return (
        a.join(b, ["lang", "source"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(raw >= 0.8)
        .select("id_a", "id_b", F.round(raw, 4).alias("jaccard"))
    )


@register("dedup_minhash_lsh", oracle=_minhash_lsh_oracle(0.5), memo=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (shingle→minhash→band→bucket-join).
    md5_60-based, so the ENTIRE sketch pipeline — signatures, banding,
    bucket join, signature-agreement estimate — is hash-checked against
    a DuckDB replay."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.minhash_lsh_pairs(docs, jaccard_threshold=0.5)


@register("dedup_simhash", oracle=_simhash_oracle(3), memo=True)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 3 (pigeonhole
    chunk-join candidates). md5_60-based → hash-checked end to end."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return ops.simhash_near_pairs(docs, max_hamming=3)


@register("dedup_minhash_verified", oracle=_minhash_verified_oracle(0.7), memo=True)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-stage pipeline: LSH candidates → exact-Jaccard verify
    (≥0.7) — both stages hash-checked end to end."""
    docs = tables.load_table(spark, sf_dir, "documents")
    cands = ops.minhash_lsh_pairs(docs, jaccard_threshold=0.0).select(
        "id_a", "id_b"
    )
    return ops.token_jaccard_pairs(docs, cands, threshold=0.7)


@register(
    "dedup_keep_canonical",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents GROUP BY text
    )
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: keep exactly one (lowest-id) row
    per distinct text. Implemented as a rank-1 window over the text key —
    one shuffle on the dedup key, no join back against the corpus (the
    IN-subquery oracle form would be a second pass at 100 TB)."""
    from pyspark.sql.window import Window

    docs = tables.load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "dedup_cluster_rollup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_verified_oracle(0.7)}) v
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, root) AS (
      SELECT DISTINCT src AS node, src AS root FROM edges
      UNION
      SELECT e.dst AS node, r.root
      FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
      SELECT node, MIN(root) AS cluster_rep FROM reach GROUP BY node
    )
    SELECT cluster_rep, COUNT(*) AS n_members
    FROM labels GROUP BY cluster_rep
    """,
    # memo: plan construction alone (pair pipeline + CC dispatch, incl.
    # the dispatch count job) costs >1 s of driver time per call
    memo=True,
)
def dedup_cluster_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: the scale path end to end —
    MinHash-LSH candidates -> exact-Jaccard verify (>= 0.7) -> iterative
    min-label connected components (operators/graph.py) -> per-cluster
    rollup. The oracle replays LSH + verify + a recursive-CTE transitive
    closure, so the full iterative pipeline is hash-checked against
    closed-form reachability."""
    from ..operators import graph

    pairs = dedup_minhash_verified(spark, sf_dir).select("id_a", "id_b")
    comp = graph.connected_components(pairs, "id_a", "id_b")
    return graph.cluster_rollup(comp)


@register(
    "dedup_source_attribution",
    memo=True,
    oracle=f"""
    WITH RECURSIVE {_minhash_sig_ctes(prefix="m").replace(
        "msig AS (", "msig AS MATERIALIZED (")},
    {_minhash_banded_cte(source="msig").replace(
        "banded AS (", "banded AS MATERIALIZED (")},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    dtok AS MATERIALIZED (
      SELECT doc_id, list_distinct({TOKENS_SQL}) AS toks FROM documents
    ),
    verified AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN dtok ta ON ta.doc_id = c.id_a
      JOIN dtok tb ON tb.doc_id = c.id_b
      WHERE ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) >= 0.7
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
    labels AS MATERIALIZED (
      SELECT node, MIN(root) AS rep FROM reach GROUP BY node
    ),
    near_dups AS (SELECT node AS doc_id FROM labels WHERE node <> rep),
    exact_dups AS (
      SELECT d.doc_id FROM documents d
      JOIN (SELECT text, MIN(doc_id) AS mn FROM documents GROUP BY text) c
        ON d.text = c.text AND d.doc_id > c.mn
    ),
    dupset AS (
      -- DuckDB 1.0 quirk: under WITH RECURSIVE, a plain UNION in a
      -- NON-recursive CTE behaves as UNION ALL (no dedup) — surfaced at
      -- sf0.1 where a doc is both a near-dup and an exact dup, and the
      -- left join then double-counted it. Explicit DISTINCT is
      -- engine-proof.
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM near_dups
        UNION ALL
        SELECT doc_id FROM exact_dups
      ) u
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(x.doc_id) AS BIGINT) AS n_dup_docs,
           ROUND(COUNT(x.doc_id) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
    FROM documents d LEFT JOIN dupset x ON d.doc_id = x.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources produce the duplicate mass: per source, total docs
    and docs flagged duplicate — near-dups (MinHash-LSH candidates,
    exact-Jaccard >= 0.7, connected components, non-representatives)
    UNION exact text dups (non-canonical ids). The curation signal that
    drives per-source crawl throttling: a source with a high dup_rate
    wastes ingest budget. Composes only individually-oracled stages;
    the rollup is one LEFT join + one aggregation over the doc-id dup
    set (dup-set-sized, shuffled — never broadcast-hinted)."""
    from pyspark.sql import Window

    from ..operators import graph

    docs = tables.load_table(spark, sf_dir, "documents")
    cands = ops.minhash_lsh_pairs(docs, jaccard_threshold=0.0).select(
        "id_a", "id_b"
    )
    verified = ops.token_jaccard_pairs(docs, cands, threshold=0.7).select(
        "id_a", "id_b"
    )
    comp = graph.connected_components(verified, "id_a", "id_b")
    near = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    exact = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    dupset = near.unionByName(exact).distinct().withColumn(
        "is_dup", F.lit(True)
    )
    return (
        docs.select("doc_id", "source")
        .join(dupset, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Integer-lattice PageRank: graph centrality over the undirected
# customer<->supplier transaction graph — the authority score a crawl
# pipeline uses to prioritize its frontier (here over the TPC-H-shaped
# graph the testdata provides). Three unrolled power iterations, every
# step exact int64 arithmetic (operators/graph.pagerank_integer), so the
# DuckDB oracle replays the identical lattice bit-for-bit.

_PR_TOP = 20
_PR_NS = 1_000_000_000  # supplier node namespace offset


def _pagerank_oracle() -> str:
    edges = f"""
      SELECT DISTINCT o.o_custkey AS src,
             {_PR_NS} + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      UNION
      SELECT DISTINCT {_PR_NS} + l.l_suppkey AS src,
             o.o_custkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """
    ctes = [
        f"e AS ({edges})",
        "deg AS (SELECT src, COUNT(*) AS out_degree FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro"
        " FROM nodes)",
    ]
    for k in range(1, 4):
        ctes.append(
            f"c{k} AS (SELECT e.dst AS node,"
            f" SUM(r.rank_micro // d.out_degree) AS inflow"
            f" FROM e JOIN r{k - 1} r ON r.node = e.src"
            f" JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k} AS (SELECT n.node,"
            f" CAST(150000 + (85 * COALESCE(c.inflow, 0)) // 100"
            f" AS BIGINT) AS rank_micro"
            f" FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT node, rank_micro, rank FROM (
      SELECT node, rank_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY rank_micro DESC, node)
                  AS BIGINT) AS rank
      FROM r3
    ) t WHERE rank <= {_PR_TOP}
    """
    )


@register("pagerank_transaction_graph", oracle=_pagerank_oracle())
def pagerank_transaction_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{20} authority nodes of the customer<->supplier graph after
    three integer-lattice PageRank iterations. Suppliers are namespaced
    to 1e9+ so one rank table covers both sides.

    Scale shape: the edge list is built once (distinct on the join
    projection); each iteration is one src-keyed join against the
    node-sized rank table plus one groupBy(dst) — linear in edges,
    nothing quadratic, and exact integers end to end (the same
    determinism design as the integer-lattice k-means)."""
    from ..operators import graph as gops

    orders = tables.load_table(spark, sf_dir, "orders")
    lineitem = tables.load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("cust"),
            (F.lit(_PR_NS) + F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp").alias("src"), F.col("cust").alias("dst")
        )
    )
    ranks = gops.pagerank_integer(edges, n_iterations=3)
    from pyspark.sql import Window

    # Top-K first: orderBy().limit() plans a per-partition top-K and one
    # merge, so the global row_number window numbers only _PR_TOP rows;
    # (rank_micro, node) is a strict total order, so the rows match a
    # rank over every node
    order = (F.col("rank_micro").desc(), F.col("node"))
    return (
        ranks.orderBy(*order)
        .limit(_PR_TOP)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("bigint")
        )
    )
