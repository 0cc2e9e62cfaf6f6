"""Cross-engine fuzz of the parity substrate: every oracle in this repo
rests on tokens_expr (Spark) == TOKENS_SQL (DuckDB) and md5_60 == md5_60_sql.
This suite drives both with a seeded adversarial corpus and asserts
exact agreement over the documented domain.

Known divergence envelope (probed, documented in operators/dedup):
  * Turkish İ (U+0130): JVM lower() yields "i"+combining-dot, DuckDB "i"
  * Greek Σ: JVM applies context-sensitive final-sigma (ς), DuckDB σ
  * Unicode spaces (U+2003, NBSP, ...): DuckDB trim() strips them at
    string edges, Java's does not (both regex engines agree \\s is
    ASCII-only, so interior occurrences agree)
The corpus generator below EXCLUDES those three classes; everything else
— ASCII, accented Latin, ß, CJK, emoji, control whitespace, NBSP —
must match byte-for-byte. md5_60 is byte-true on the raw text, so it is
asserted over the FULL alphabet including the divergent classes.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from trino_adaptive_partitioning_tool_spark.operators.dedup import (
    TOKENS_SQL,
    md5_60,
    md5_60_sql,
    tokens_expr,
)

_SAFE = list("abcXYZ 0189 \t\n\r.,;:!?-_#@/\\'\"()[]{}<>=+*&%$^~`|") + [
    "é", "ü", "ß", "ç", "ñ", "中", "文", "日", "🙂", "ς", "ı",
]
# NBSP belongs with the divergent classes: interior NBSP agrees, but
# DuckDB trim() strips it at string edges while Java's does not (same
# class as U+2003)
_DIVERGENT = ["İ", "Σ", " ", " ", "\xa0"]


def _corpus(alphabet: list[str], n: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    cases = ["", " ", "\t\n\r", "a" * 500, "WoRd WORD word", ".", "\\"]
    for _ in range(n):
        cases.append(
            "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 60))
            )
        )
    return list(enumerate(cases))


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def test_tokens_agree_over_safe_domain(spark, duck):
    rows = _corpus(_SAFE, 400, seed=7)
    sres = {
        r["id"]: list(r["toks"])
        for r in spark.createDataFrame(rows, "id long, text string")
        .select("id", tokens_expr("text").alias("toks"))
        .collect()
    }
    duck.execute("CREATE OR REPLACE TABLE fuzz_t (id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO fuzz_t VALUES (?, ?)", rows)
    dres = {
        r[0]: list(r[1])
        for r in duck.execute(f"SELECT id, {TOKENS_SQL} FROM fuzz_t").fetchall()
    }
    bad = [
        (i, s, sres[i], dres[i]) for i, s in rows if sres[i] != dres[i]
    ]
    assert not bad, f"{len(bad)} tokenization divergences, first: {bad[0]}"


def test_md5_60_agrees_over_full_alphabet(spark, duck):
    rows = _corpus(_SAFE + _DIVERGENT, 400, seed=11)
    sres = {
        r["id"]: r["h"]
        for r in spark.createDataFrame(rows, "id long, text string")
        .select("id", md5_60(F.col("text")).alias("h"))
        .collect()
    }
    duck.execute("CREATE OR REPLACE TABLE fuzz_h (id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO fuzz_h VALUES (?, ?)", rows)
    dres = {
        r[0]: r[1]
        for r in duck.execute(
            f"SELECT id, {md5_60_sql('text')} FROM fuzz_h"
        ).fetchall()
    }
    bad = [(i, s) for i, s in rows if sres[i] != dres[i]]
    assert not bad, f"{len(bad)} hash divergences, first: {bad[0]}"


def test_divergent_classes_actually_diverge(spark, duck):
    """The envelope doc must stay honest: if an engine upgrade makes
    these classes agree, this test fails and the envelope note (and the
    excluded alphabet) should be updated."""
    rows = [(0, "İstanbul"), (1, "ΟΔΥΣΣΕΥΣ"), (2, " word ")]
    sres = {
        r["id"]: list(r["toks"])
        for r in spark.createDataFrame(rows, "id long, text string")
        .select("id", tokens_expr("text").alias("toks"))
        .collect()
    }
    duck.execute("CREATE OR REPLACE TABLE fuzz_d (id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO fuzz_d VALUES (?, ?)", rows)
    dres = {
        r[0]: list(r[1])
        for r in duck.execute(f"SELECT id, {TOKENS_SQL} FROM fuzz_d").fetchall()
    }
    assert any(sres[i] != dres[i] for i, _ in rows)
