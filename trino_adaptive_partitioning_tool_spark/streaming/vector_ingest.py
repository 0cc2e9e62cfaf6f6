"""Streaming vector ingest → LSH bucket enrichment (stream-static join).

The continuous-ingest half of the similarity surface: new embedding
vectors arrive as a stream, each micro-batch computes the SAME quantized
sign-random-projection signatures as the batch LSH path
(operators/similarity.bucket_signatures — one int64 matmul per Arrow
batch), and the signatures join a STATIC pre-bucketed corpus on
(table_idx, signature).

Determinism argument: the join is stream-static and stateless, so the
emitted candidate set is the union over micro-batches of per-batch inner
joins — invariant to how the feed slices. Ranking (exact cosine top-k)
runs once at drain time over the materialized candidates
(the operators/similarity.topk kernel), so the end result equals the
batch `lsh_bucketed_topk` for the same query set exactly — which is the
DuckDB-oracle contract of `streaming_similarity_ingest`.

At scale: the corpus signature frame is corpus-sized — it is NOT
broadcast; Spark shuffles each micro-batch's (tiny) signature set
against it hash-partitioned on the bucket key. A production deployment
would persist the corpus buckets partitioned by (table_idx, signature)
so each arriving batch probes only matching partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import similarity as sim


def ingest_candidates(stream_vecs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Streaming (query_id, vec_id) candidate pairs: the stream side's
    per-batch signatures equi-joined against the static corpus buckets.
    Append-mode safe with no watermark (stateless join); duplicates
    across tables are expected and deduplicated at rank time."""
    c = sim.bucket_signatures(corpus, "vec_id")
    q = sim.bucket_signatures(
        stream_vecs.select(F.col("vec_id").alias("query_id"), "embedding"),
        "query_id",
    )
    return q.join(c, ["table_idx", "signature"]).select("query_id", "vec_id")
