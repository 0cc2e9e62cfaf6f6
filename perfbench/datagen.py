"""Seeded TPC-H-ish tables for the benchmark.

Writes the ten tables the package reads (`sources.tables.TABLES`) with the
same column names and parquet types as the project's test data, one row
group per file, at a chosen scale factor. Row counts follow the test
data: sf0.01 has 60k lineitem rows, sf0.1 has 600k. The same
(seed, sf) always gives byte-identical column values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "new", "hot", "small", "big", "old", "blue", "cold"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join order data column query customer big "
    "small filter group index stream shard cache plan stage task"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_ORDER_EPOCH = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the test data
_EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _ts_days(days: np.ndarray) -> pa.Array:
    stamps = (_ORDER_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(stamps, pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, npart)], pa.string()
        ),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
        ),
    })

    no = n["orders"]
    order_days = rng.integers(0, _ORDER_DAYS + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })

    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    quantity = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(
            np.round(quantity * rng.uniform(900.0, 2100.0, nl), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts_days(order_days[l_order] + rng.integers(1, 95, nl)),
    })

    ne = n["events"]
    offsets = np.sort(rng.integers(0, _EVENT_SPAN_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 67), ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(40.0, ne), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
        ),
    })

    nd = n["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(8, 90, nd)]
    # plant near-duplicates so the dedup and similarity queries find pairs
    for i in range(0, nd, 25):
        j = (i * 7 + 3) % nd
        words = texts[i].split()
        words[len(words) // 2] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[j] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.35, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
        )
        counts[name] = tbl.num_rows
    return counts

