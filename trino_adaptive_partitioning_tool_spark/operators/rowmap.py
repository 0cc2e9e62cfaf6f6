"""The one Arrow stage shape every per-row Python step runs through.

Mining statements out of query-log text, walking WARC shards, parsing
HTML and decoding media all share one shape: a pure Python function of
one input row that yields zero, one or many output rows. ``map_rows``
writes that stage once — the batch loop, the column zip and the output
frame built from the schema's own field names — so a stage only states
its per-row function and its output schema.

Stages call it as ``rowmap.map_rows`` (a module attribute, not a
from-import) so a test can replace this single name, e.g. to make the
first attempt of every task fail and check that retried stages give the
same rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame, schema: StructType, fn: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """Run ``fn(*row)`` once per row of ``df`` (values in ``df``'s column
    order, as Python scalars) inside one ``mapInPandas`` stage; every
    tuple it yields becomes one output row of ``schema``. Output rows keep
    input order within each Arrow batch, and an empty batch yields an
    empty frame. Works on batch and streaming inputs alike."""
    names = schema.names

    def _stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [pdf.iloc[:, i] for i in range(pdf.shape[1])]
            yield pd.DataFrame(
                [out for row in zip(*cols) for out in fn(*row)],
                columns=names,
            )

    return df.mapInPandas(_stage, schema=schema)
