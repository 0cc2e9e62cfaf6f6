"""Golden payload digests for the real-format synthetic asset generators.

The oracle-parity rows see only decoded statistics, so a change to an
encoder or to a generator's per-asset arithmetic that keeps those
statistics would pass them unnoticed. Each test here pins the exact
bytes: the md5 over every ``(asset_id, media_type, payload, meta)`` row
at the generator's default size, ordered by asset_id, plus the range
partitioning of the encode stage (asset ids stay in the partition of
``spark.range(0, n, 1, partitions)`` they were generated in).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from trino_adaptive_partitioning_tool_spark.operators import multimodal as mm

# md5 of each generator's rows at its default n: a mismatch means the
# generator's bytes (or its partition layout) changed
GOLDEN = {
    "png": "c9a8920ec8c4ed2fbc19fac275e744f3",
    "webp": "6d5352309afe2cd6f323a8d7b2ace935",
    "webp_lz": "c463f0853e388cbec46233bbaf8f553e",
    "png_depth": "b40a99e5d9f2c2f0715f1c5d0c69610f",
    "wav": "1008b613b5d98d6e7ca14ee2eef0abff",
    "adpcm": "4150462cb039019b9cc5fa4f04d421d1",
    "aiff": "aa4558be976845ccf3f3f1339495e221",
    "mulaw": "500109c8faf60e3ba99a7c12f1a50378",
    "flac": "9fcb362a2d860dde52d813ffeeabb8ee",
    "y4m": "0b2e901086fac081782f91b86c325a23",
    "jpeg": "7ae2d89208d47b3b0003a456398d01cf",
    "progressive_jpeg": "2d4af5ccf078f5e4b51cf0ccbaede439",
    "avi": "9436c66c710cab0eb55fd91420e23954",
    "gif": "e90bfb801493dd595e6e27866aeeda60",
    "bmp": "2d30edc4b897c8b3c74e5586cad8ba33",
    "tiff": "7d4439bd3a408857bd488b6536e64e41",
    "afp": "7a6067c12b972265a752930781811eaf",
    "phash": "a9ed8e607ea725a59610f02e94a81b23",
}


def payload_digest(rows) -> str:
    h = hashlib.md5()
    for r in rows:
        meta = tuple(r["meta"])
        h.update(
            repr((r["asset_id"], r["media_type"], bytes(r["payload"]), meta))
            .encode()
        )
    return h.hexdigest()


@pytest.mark.parametrize("fmt", sorted(GOLDEN))
def test_generator_payloads_match_golden_digest(spark, fmt):
    df = getattr(mm, f"synth_{fmt}_assets")(spark)
    rows = (
        df.withColumn("pid", F.spark_partition_id())
        .orderBy("asset_id")
        .collect()
    )
    assert payload_digest(rows) == GOLDEN[fmt]
    pids = [r["pid"] for r in rows]
    assert pids == sorted(pids) and set(pids) == set(range(8))


# md5 over what PixmapCodec makes of each generator's rows: decode(),
# the pixels()/pcm() array (dtype, shape, bytes), resize(payload, 5, 3)
# for rasters and frames() for Y4M. The oracle rows see only decoded
# statistics; these pin every decoded sample and every re-encoded byte.
DECODE_GOLDEN = {
    "png": "3416a52f76237d6f760312cb55e9f00e",
    "webp": "57c8b6ad3fa42e71005b51fd01c750de",
    "webp_lz": "4a6f425ffa8e1482f0908433815e6c5e",
    "png_depth": "f5b1035cdfe8193be92f222f2dc2838a",
    "wav": "8578e52548158bfab3bfb9edaa0faeee",
    "adpcm": "20f0fcee42313f074c81aa1a7f1fb700",
    "aiff": "cf7821e44a775a566b3a943fe9c7a0ea",
    "mulaw": "f093f0ba5cb159a960365b5d4e368f13",
    "flac": "a78873747f077dcf099bf6016ea17ab4",
    "y4m": "3931fcc06b2cf67eae638ce82d475d23",
    "jpeg": "5978a9f22d1f5ae8f4825c1984aad0ed",
    "progressive_jpeg": "fee63b318d49c00d0fdaf1e10830d82a",
    "avi": "88aff3e77533969ea74a55fb3ee0af99",
    "gif": "05dd21f833ab7f4764e0012e805d22ca",
    "bmp": "0f66c0b6476ce345ad7a98e5d8e0c714",
    "tiff": "e874ff2c6276edd4be1568a510595bc3",
    "afp": "b1d73856b7cf62106fc6bc2ed49e2366",
    "phash": "c94f57a4d19f56a4cdbafcafc7b1c70f",
}


def decode_digest(rows) -> str:
    codec = mm.PixmapCodec()
    h = hashlib.md5()
    for r in rows:
        payload, media_type = bytes(r["payload"]), r["media_type"]
        parts = [codec.decode(payload, media_type)]
        arr = None
        if media_type == "image":
            arr = codec.pixels(payload)
            try:
                parts.append(codec.resize(payload, 5, 3))
            except ValueError as exc:  # no resize encoder for the format
                parts.append(type(exc).__name__)
        elif media_type == "audio":
            arr = codec.pcm(payload)
        elif payload.startswith(b"YUV4MPEG2"):
            parts.append(codec.frames(payload, 0, 100))
        if arr is not None:
            parts.append((arr.dtype.str, arr.shape, arr.tobytes()))
        h.update(repr((r["asset_id"], parts)).encode())
    return h.hexdigest()


@pytest.mark.parametrize("fmt", sorted(GOLDEN))
def test_generator_payloads_decode_to_golden_digest(spark, fmt):
    df = getattr(mm, f"synth_{fmt}_assets")(spark)
    rows = df.orderBy("asset_id").collect()
    assert decode_digest(rows) == DECODE_GOLDEN[fmt]


def test_pure_spark_generators_plan_no_python_stage(spark):
    """synth_assets, synth_ppm_assets and y4m_dims are Spark projections:
    reading them never runs a Python worker."""
    for df in (
        mm.synth_assets(spark),
        mm.synth_ppm_assets(spark),
        mm.y4m_dims(spark),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapIn" not in plan and "Python" not in plan, plan


def test_y4m_dims_match_the_encoded_headers(spark):
    dims = {tuple(r) for r in mm.y4m_dims(spark).collect()}
    meta = {
        (r["asset_id"], r["meta"]["width"], r["meta"]["height"])
        for r in mm.synth_y4m_assets(spark).collect()
    }
    assert len(dims) == 128 and dims == meta
