"""Reusable Column-expression helpers (the engine's scalar/array function
surface, SURVEY §2.8/§2.10 — all JVM-side, no UDFs).

Re-exported from the operator modules that own them so library users have
one import point:

    from trino_adaptive_partitioning_tool_spark.functions import (
        cosine_expr, tokens_expr, shingles_expr, cardinality_band_bonus,
        transform_expr,
    )
"""

from ..operators.dedup import shingles_expr, tokens_expr
from ..operators.scoring import cardinality_band_bonus
from ..operators.similarity import cosine_expr
from ..operators.transforms import (
    transform_expr,
    transform_to_partition_column,
)

__all__ = [
    "cardinality_band_bonus",
    "cosine_expr",
    "shingles_expr",
    "tokens_expr",
    "transform_expr",
    "transform_to_partition_column",
]
