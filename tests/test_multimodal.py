"""Multimodal plumbing tests: schema, batch shape, determinism of the
stubbed decode/feature/frame stages (the Spark-side contract is real even
though the codec is faked — BASELINE.json extension requirement)."""

from __future__ import annotations

import pytest

from trino_adaptive_partitioning_tool_spark.operators import multimodal as mm
from trino_adaptive_partitioning_tool_spark.operators.codecs import (
    aiff,
    gif,
    jpeg,
    netpbm,
    png,
    tiff,
    wav,
)


def test_synth_assets_deterministic(spark):
    a = mm.synth_assets(spark, n=64).collect()
    b = mm.synth_assets(spark, n=64).collect()
    assert len(a) == 64
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["media_type"] for r in a} == {"image", "audio", "video"}


def test_decode_assets_schema_and_determinism(spark):
    assets = mm.synth_assets(spark, n=48)
    d1 = {r["asset_id"]: r for r in mm.decode_assets(assets).collect()}
    d2 = {r["asset_id"]: r for r in mm.decode_assets(assets).collect()}
    assert len(d1) == 48
    for aid, row in d1.items():
        assert row["decoded_width"] >= 1 and row["decoded_height"] >= 1
        assert 0.0 <= row["mean_intensity"] <= 255.0
        assert row["payload_bytes"] > 0
        assert tuple(row) == tuple(d2[aid])


def test_decode_requires_codec_raises(spark):
    assets = mm.synth_assets(spark, n=4)
    with pytest.raises(NotImplementedError):
        mm.decode_assets(assets, require_codec=True)


def _fake_real_codec():
    """A 'real' codec for seam tests: same deterministic arithmetic as
    the stub, but flagged is_real so require_codec=True accepts it —
    exactly the shape a PIL/libav adapter takes. Defined per-call (not
    module level) so cloudpickle ships the class by value to executors,
    the same way a user-defined codec in a notebook would travel."""

    class FakeRealCodec(mm.StubCodec):
        is_real = True

    return FakeRealCodec()


def test_codec_protocol_conformance():
    assert isinstance(mm.StubCodec(), mm.Codec)
    assert isinstance(_fake_real_codec(), mm.Codec)
    assert not mm.StubCodec().is_real
    assert _fake_real_codec().is_real


def test_codec_seam_drop_in_same_schema_and_rows(spark):
    """A drop-in Codec changes NO pipeline schema; with identical codec
    arithmetic the rows are identical too — the stub and the interface
    agree (VERDICT r2 item 8)."""
    assets = mm.synth_assets(spark, n=24)
    for stage, kwargs in (
        (mm.decode_assets, {}),
        (mm.resize_assets, {}),
        (mm.sample_frames, {"every_ms": 5000}),
    ):
        stub_df = stage(assets, **kwargs)
        real_df = stage(
            assets, require_codec=True, codec=_fake_real_codec(), **kwargs
        )
        assert stub_df.schema == real_df.schema, stage.__name__
        assert sorted(map(tuple, stub_df.collect())) == sorted(
            map(tuple, real_df.collect())
        ), stage.__name__


def test_extract_features_integer_counts_and_dim(spark):
    # raw integer bin counts (not normalized): exactly representable in
    # float32, so downstream cosine is SQL-replayable; counts sum to the
    # payload byte length
    assets = mm.synth_assets(spark, n=32)
    feats = mm.extract_features(assets, dim=64).collect()
    assert len(feats) == 32
    for r in feats:
        v = r["feature"]
        assert len(v) == 64
        assert all(float(x).is_integer() for x in v)
        assert sum(v) == 128  # synth payload = 8 x 16 digest bytes


def test_features_flow_into_similarity_ops(spark):
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import similarity

    assets = mm.synth_assets(spark, n=32)
    feats = mm.extract_features(assets, dim=64).withColumnRenamed(
        "feature", "embedding"
    ).withColumnRenamed("asset_id", "vec_id")
    queries = feats.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.topk(feats, queries, 3).collect()
    assert len(top) == 6
    self_hits = [r for r in top if r["rank"] == 1]
    assert all(r["query_id"] == r["vec_id"] for r in self_hits)


def test_sample_frames_video_only_udtf_shape(spark):
    assets = mm.synth_assets(spark, n=30)
    frames = mm.sample_frames(assets, every_ms=10_000).collect()
    assert frames, "expected at least one video frame"
    video_ids = {
        r["asset_id"]
        for r in assets.where("media_type = 'video'").collect()
    }
    assert {r["asset_id"] for r in frames} <= video_ids
    for r in frames:
        assert r["frame_ms"] == r["frame_idx"] * 10_000
        assert len(bytes(r["frame_payload"])) > 0


def test_resize_assets_shape_and_determinism(spark):
    assets = mm.synth_assets(spark, n=64)
    r1 = mm.resize_assets(assets).collect()
    r2 = mm.resize_assets(assets).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # image+video only, one row per asset
    kinds = {r["media_type"] for r in r1}
    assert kinds == {"image", "video"}
    for r in r1:
        assert r["target_width"] == 224 and r["target_height"] == 224
        assert r["resized_bytes"] == len(r["resized_payload"])
        assert r["resized_bytes"] <= 224 * 224 // 256 + 1
        if r["scale_x"] is not None:
            assert r["scale_x"] > 0


def test_resize_requires_codec_raises(spark):
    import pytest

    with pytest.raises(NotImplementedError):
        mm.resize_assets(mm.synth_assets(spark, n=4), require_codec=True)


# ---- PixmapCodec: the REAL pure-python codec (round-4) ----------------


def _p6(px):
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def test_pixmap_codec_decodes_real_p6_and_p5():
    import numpy as np

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    assert c.is_real
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(6, 4, 3)
    w, h, mean = c.decode(_p6(px), "image")
    assert (w, h) == (4, 6) and mean == px.mean()
    gray = np.arange(15, dtype=np.uint8).reshape(3, 5, 1)
    p5 = b"P5\n5 3\n255\n" + gray.tobytes()
    assert c.decode(p5, "image") == (5, 3, gray.mean())
    # comment lines in the header are legal netpbm
    commented = b"P6\n# made by a test\n4 6\n255\n" + px.tobytes()
    assert c.decode(commented, "image")[:2] == (4, 6)


def test_pixmap_codec_bmp_roundtrip_matches_pixels():
    import numpy as np

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    px = (np.arange(5 * 3 * 3, dtype=np.uint8) * 3 % 251).reshape(3, 5, 3)
    bmp = netpbm.encode_bmp(px)
    w, h, got = netpbm.parse_bmp(bmp)
    assert (w, h) == (5, 3)
    assert np.array_equal(got, px)
    assert c.decode(bmp, "image") == (5, 3, px.mean())


def test_pixmap_codec_resize_is_true_nearest_neighbor():
    import numpy as np

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    px = np.arange(8 * 4 * 3, dtype=np.uint8).reshape(4, 8, 3)
    resized = c.resize(_p6(px), 3, 2)
    _, _, _, _, got = netpbm.parse(resized)
    ri = (np.arange(2) * 4) // 2
    ci = (np.arange(3) * 8) // 3
    assert np.array_equal(got, px[ri][:, ci])


def test_pixmap_codec_y4m_frame_sampling():
    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    w, h = 4, 2
    fb = w * h * 3 // 2
    frames = [bytes([i] * fb) for i in range(10)]
    y4m = b"YUV4MPEG2 W4 H2 F5:1 Ip A1:1\n" + b"".join(
        b"FRAME\n" + f for f in frames
    )
    out = c.frames(y4m, 0, 1000)  # 5 fps, sample every second
    assert [(i, ms, f[0]) for i, ms, f in out] == [(0, 0, 0), (1, 1000, 5)]


def test_pixmap_codec_rejects_unknown_formats():
    import pytest as _pytest

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    with _pytest.raises(ValueError):
        c.decode(b"\x89PNG fake", "image")
    with _pytest.raises(ValueError):
        c.resize(b"GIF89a", 2, 2)
    with _pytest.raises(ValueError):
        c.frames(b"RIFF....", 0, 1000)


def test_real_decode_stage_end_to_end_requires_codec(spark):
    """decode_assets(require_codec=True) runs the REAL codec through the
    same Arrow stage — parsed dimensions must equal the generated
    header dimensions for every asset."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import multimodal as mm

    assets = mm.synth_ppm_assets(spark, n=64)
    decoded = mm.decode_assets(
        assets, require_codec=True, codec=mm.PixmapCodec()
    )
    joined = decoded.join(
        assets.select(
            "asset_id",
            F.col("meta.width").alias("w"),
            F.col("meta.height").alias("h"),
        ),
        "asset_id",
    )
    bad = joined.where(
        (F.col("decoded_width") != F.col("w"))
        | (F.col("decoded_height") != F.col("h"))
    ).count()
    assert bad == 0
    assert decoded.count() == 64
    # the stub still refuses require_codec=True
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_assets(assets, require_codec=True)


def test_png_round_trip_all_filters_and_color_types():
    """Encoder cycles filter types per scanline (r % 5), so a >=5-row
    image certifies every filter inverse; gray/gray-alpha/RGB/RGBA."""
    import numpy as np

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        for h, w in [(1, 1), (2, 2), (5, 7), (9, 13), (64, 48)]:
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            enc = png.encode(px)
            w2, h2, px2 = png.parse(enc)
            assert (w2, h2) == (w, h)
            assert np.array_equal(px2, px), (ch, h, w)
    # decode() protocol surface: exact dims + exact mean
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    w, h, mi = c.decode(png.encode(px), "image")
    assert (w, h) == (4, 5)
    assert abs(mi - px.mean()) < 1e-9
    # resize keeps the PNG container
    out = c.resize(png.encode(px), 2, 3)
    w, h, _ = c.decode(out, "image")
    assert (w, h) == (2, 3)


def test_png_rejects_unsupported_variants():
    import struct
    import zlib

    import pytest as _pytest

    sig = png.SIGNATURE

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    def make_png(depth, color, interlace, payload=b"\x00" * 32):
        return (
            sig
            + chunk(b"IHDR",
                    struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0,
                                interlace))
            + chunk(b"IDAT", zlib.compress(payload))
            + chunk(b"IEND", b"")
        )

    # palette/Adam7 (r12) and 16-bit/packed depths (r13) are SUPPORTED
    # — the guards move to the combinations the spec itself forbids:
    # 16-bit palette, packed multi-channel types, a depth that does
    # not exist, indexed color without its PLTE, unknown interlace
    with _pytest.raises(ValueError, match="depth/color"):
        png.parse(make_png(16, 3, 0))  # 16-bit palette is illegal
    with _pytest.raises(ValueError, match="depth/color"):
        png.parse(make_png(2, 2, 0))  # packed RGB is illegal
    with _pytest.raises(ValueError, match="depth/color"):
        png.parse(make_png(3, 0, 0))  # depth 3 does not exist
    with _pytest.raises(ValueError, match="PLTE"):
        png.parse(make_png(8, 3, 0))  # palette but no PLTE chunk
    with _pytest.raises(ValueError, match="interlace"):
        png.parse(make_png(8, 2, 2))  # method 2 does not exist
    with _pytest.raises(ValueError, match="size mismatch"):
        png.parse(make_png(8, 2, 1))  # Adam7 with a sequential-size IDAT
    # CRC tamper inside a chunk body must be caught
    import numpy as np

    good = bytearray(png.encode(
        np.arange(48, dtype=np.uint8).reshape(4, 4, 3)))
    good[len(sig) + 8 + 2] ^= 0xFF  # IHDR body byte
    with _pytest.raises(ValueError, match="CRC"):
        png.parse(bytes(good))
    # wrong IDAT length for the declared dims
    with _pytest.raises(ValueError, match="size mismatch"):
        png.parse(make_png(8, 2, 0, payload=b"\x00" * 5))


def test_synth_png_assets_decode_through_arrow_stage(spark):
    """The generated PNGs flow through the production mapInPandas decode
    with require_codec=True; parsed dims must equal generated meta."""
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    assets = mm.synth_png_assets(spark, n=48)
    decoded = mm.decode_assets(
        assets, require_codec=True, codec=mm.PixmapCodec()
    )
    joined = decoded.join(
        assets.select(
            "asset_id",
            F.col("meta.width").alias("w"),
            F.col("meta.height").alias("h"),
        ),
        "asset_id",
    )
    bad = joined.where(
        (F.col("decoded_width") != F.col("w"))
        | (F.col("decoded_height") != F.col("h"))
    ).count()
    assert bad == 0
    assert decoded.count() == 48


def test_wav_round_trip_and_rejects():
    import struct

    import numpy as np
    import pytest as _pytest

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        PixmapCodec,
    )

    c = PixmapCodec()
    rng = np.random.default_rng(3)
    for ch in (1, 2):
        for frames in (1, 10, 59):
            s = rng.integers(-32768, 32768, size=frames * ch,
                             dtype=np.int16)
            f2, c2, s2 = wav.parse(wav.encode(s, ch))
            assert (f2, c2) == (frames, ch)
            assert np.array_equal(s2, s)
    # decode(): frames as width, channels as height, mean |sample|
    # (int64 abs — abs(int16 -32768) would overflow back to -32768)
    w, h, mi = c.decode(
        wav.encode(np.array([-32768, 100, -100, 32767],
                               dtype=np.int16), 2),
        "audio",
    )
    assert (w, h) == (2, 2)
    assert abs(mi - (32768 + 100 + 100 + 32767) / 4) < 1e-9
    # chunk walk honors RIFF even-offset padding (odd LIST before data)
    s = np.array([1, -2, 3, -4], dtype=np.int16)
    good = wav.encode(s, 1)
    fmt_end = 12 + 8 + 16
    patched = (good[:fmt_end] + b"LIST" + struct.pack("<I", 3)
               + b"abc\x00" + good[fmt_end:])
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert np.array_equal(wav.parse(patched)[2], s)
    # rejects: non-WAVE RIFF, 8-bit PCM
    with _pytest.raises(ValueError, match="RIFF/WAVE"):
        wav.parse(b"RIFFxxxxAVI " + b"\x00" * 8)
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
           + b"data" + struct.pack("<I", 0))
    with _pytest.raises(ValueError, match="16-bit"):
        wav.parse(bad)


def test_synth_wav_assets_decode_through_arrow_stage(spark):
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    assets = mm.synth_wav_assets(spark, n=48)
    decoded = mm.decode_assets(
        assets, require_codec=True, codec=mm.PixmapCodec()
    )
    joined = decoded.join(
        assets.select(
            "asset_id",
            F.col("meta.width").alias("frames"),
            F.col("meta.height").alias("ch"),
        ),
        "asset_id",
    )
    bad = joined.where(
        (F.col("decoded_width") != F.col("frames"))
        | (F.col("decoded_height") != F.col("ch"))
    ).count()
    assert bad == 0
    assert decoded.count() == 48


def test_channel_stats_catch_interleave_bugs(spark):
    """The per-channel stage must detect what the overall mean cannot:
    a channel-swapping decoder yields identical mean_intensity but
    different per-channel means."""
    import numpy as np
    import pytest as _pytest

    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    class SwappedCodec(mm.PixmapCodec):
        def pixels(self, payload):
            px = super().pixels(payload)
            return px[:, :, ::-1]  # RGB -> BGR

    assets = mm.synth_png_assets(spark, n=24)
    good = {
        (r["asset_id"], r["channel"]): r["mean_value"]
        for r in mm.channel_stats(
            assets, require_codec=True, codec=mm.PixmapCodec()
        ).collect()
    }
    swapped = {
        (r["asset_id"], r["channel"]): r["mean_value"]
        for r in mm.channel_stats(
            assets, require_codec=True, codec=SwappedCodec()
        ).collect()
    }
    assert good != swapped  # the interleave bug IS visible here
    # ...but invisible to the overall mean (same bytes, same mean)
    mi_good = {
        r["asset_id"]: r["mean_intensity"]
        for r in mm.decode_assets(
            assets, require_codec=True, codec=mm.PixmapCodec()
        ).collect()
    }
    ch = mm.channel_stats(
        assets, require_codec=True, codec=mm.PixmapCodec()
    )
    # channel means aggregate back to the overall mean
    from pyspark.sql import functions as F

    back = {
        r["asset_id"]: r["m"]
        for r in ch.groupBy("asset_id")
        .agg(F.avg("mean_value").alias("m"))
        .collect()
    }
    for aid, m in back.items():
        assert abs(m - mi_good[aid]) < 1e-9

    # the stub has no pixel planes
    with _pytest.raises(NotImplementedError):
        mm.channel_stats(assets, codec=mm.StubCodec())


def test_y4m_frame_luma_through_arrow_stages(spark):
    """Real Y4M walk end-to-end: sampled frame count equals the
    generated frame count, and each frame's luma mean equals the mean
    of the Y-plane bytes computed directly from the md5 convention."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    assets = mm.synth_y4m_assets(spark, n=24)
    frames = mm.sample_frames(
        assets, every_ms=100, require_codec=True, codec=mm.PixmapCodec()
    )
    dims = mm.y4m_dims(spark, n=24)
    # the arithmetic-derived dims must agree with the generated meta
    meta_dims = {
        r["asset_id"]: (r["w"], r["h"])
        for r in assets.select(
            "asset_id",
            F.col("meta.width").alias("w"),
            F.col("meta.height").alias("h"),
        ).collect()
    }
    assert {
        r["asset_id"]: (r["w"], r["h"]) for r in dims.collect()
    } == meta_dims
    got = {
        (r["asset_id"], r["frame_idx"]): (r["frame_ms"], r["luma_mean"])
        for r in mm.frame_luma_stats(frames, dims).collect()
    }
    for aid in range(24):
        w = (aid % 3 + 1) * 2
        h = (aid % 2 + 1) * 2
        nf = aid % 5 + 2
        fsz = w * h * 3 // 2
        digest = hashlib.md5(str(aid).encode()).digest()
        data = (digest * (nf * fsz // 16 + 1))[: nf * fsz]
        for k in range(nf):
            ms, luma = got[(aid, k)]
            assert ms == k * 100
            want = float(
                np.frombuffer(
                    data[k * fsz : k * fsz + w * h], dtype=np.uint8
                ).mean()
            )
            assert abs(luma - want) < 1e-9, (aid, k)
    assert len(got) == sum(a % 5 + 2 for a in range(24))


def test_jpeg_constant_block_exact_round_trip_all_modes():
    """The certified synth convention: constant 8x8 blocks + unit quant
    tables decode bit-exactly through the full baseline pipeline
    (Huffman -> dequant -> IDCT -> upsample -> fixed-point RGB)."""
    import hashlib

    import numpy as np

    up = lambda b: np.repeat(np.repeat(b, 8, 0), 8, 1)  # noqa: E731
    for aid in (0, 7, 41):
        d = hashlib.md5(str(aid).encode()).digest()
        mw, mh = 3, 2
        n = mw * mh
        yb = np.array([d[m % 16] for m in range(n)], np.uint8).reshape(mh, mw)
        cb = np.array(
            [d[(3 * m + 5) % 16] for m in range(n)], np.uint8
        ).reshape(mh, mw)
        cr = np.array(
            [d[(3 * m + 11) % 16] for m in range(n)], np.uint8
        ).reshape(mh, mw)
        # grayscale: decoded samples ARE the block bytes
        w, h, px = jpeg.parse(jpeg.encode(up(yb)))
        assert (w, h) == (24, 16)
        assert np.array_equal(px[:, :, 0], up(yb))
        # 4:4:4: decoded RGB equals the fixed-point transform exactly
        w, h, px = jpeg.parse(
            jpeg.encode(up(yb), up(cb), up(cr), "444")
        )
        exp = jpeg.ycbcr_to_rgb(
            up(yb).astype(np.int64),
            up(cb).astype(np.int64),
            up(cr).astype(np.int64),
        )
        assert np.array_equal(px, exp)
        # 4:2:0: per-MCU chroma replicated over 4 raster-ordered Y blocks
        yb4 = np.zeros((2 * mh, 2 * mw), np.uint8)
        for m in range(n):
            my, mx = divmod(m, mw)
            for k in range(4):
                by, bx = divmod(k, 2)
                yb4[2 * my + by, 2 * mx + bx] = d[(4 * m + k) % 16]
        w, h, px = jpeg.parse(
            jpeg.encode(up(yb4), up(cb), up(cr), "420")
        )
        assert (w, h) == (48, 32)
        exp = jpeg.ycbcr_to_rgb(
            up(yb4).astype(np.int64),
            np.repeat(np.repeat(up(cb), 2, 0), 2, 1).astype(np.int64),
            np.repeat(np.repeat(up(cr), 2, 0), 2, 1).astype(np.int64),
        )
        assert np.array_equal(px, exp)


def test_jpeg_general_lossy_round_trip_and_padding():
    """Arbitrary (non-constant) images through the encoder: with unit
    quant tables the only loss is FDCT/IDCT rounding, so samples come
    back within a few levels; non-MCU-multiple dims exercise the edge
    padding + crop path."""
    import numpy as np

    pc = mm.PixmapCodec()
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    w, h, px = jpeg.parse(jpeg.encode(img))
    assert (w, h) == (23, 19)
    assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).max() <= 4
    # 4:2:0 color with odd dims: shape contract + decode() sniffing
    y = rng.integers(0, 256, (21, 27), dtype=np.uint8)
    cb = rng.integers(0, 256, (11, 14), dtype=np.uint8)
    cr = rng.integers(0, 256, (11, 14), dtype=np.uint8)
    payload = jpeg.encode(y, cb, cr, "420")
    w, h, px = jpeg.parse(payload)
    assert (w, h) == (27, 21) and px.shape == (21, 27, 3)
    dw, dh, mi = pc.decode(payload, "image")
    assert (dw, dh) == (27, 21) and mi == pytest.approx(float(px.mean()))
    assert pc.pixels(payload).shape == (21, 27, 3)


def test_jpeg_rejects_malformed_payloads():
    import numpy as np

    img = np.full((8, 8), 100, np.uint8)
    payload = jpeg.encode(img)
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg.parse(b"\x00\x00" + payload[2:])
    # truncated mid-segment
    with pytest.raises(ValueError):
        jpeg.parse(payload[:20])
    # truncated entropy stream
    with pytest.raises(ValueError):
        jpeg.parse(payload[:-8])
    # SOF2 is SUPPORTED since r11, but a baseline entropy stream under
    # a flipped SOF2 marker is still malformed: the baseline SOS header
    # declares spectral selection 0..63, which progressive forbids for
    # a DC scan — rejected loudly, never a silent partial decode
    sof0 = payload.index(b"\xff\xc0")
    prog = payload[:sof0] + b"\xff\xc2" + payload[sof0 + 2 :]
    with pytest.raises(ValueError, match="Se != 0"):
        jpeg.parse(prog)
    # lossless (SOF3) stays rejected
    sof3 = payload[:sof0] + b"\xff\xc3" + payload[sof0 + 2 :]
    with pytest.raises(ValueError, match="baseline"):
        jpeg.parse(sof3)


def test_jpeg_y4m_decode_branch_matches_frame_walk():
    """decode() on a Y4M payload reports (w, h, mean over every plane
    byte of every frame) — consistent with the frames() walk."""
    import hashlib

    import numpy as np

    pc = mm.PixmapCodec()
    aid, w, h, nf = 5, 4, 2, 3
    fsz = w * h * 3 // 2
    digest = hashlib.md5(str(aid).encode()).digest()
    data = (digest * (nf * fsz // 16 + 1))[: nf * fsz]
    payload = bytearray(f"YUV4MPEG2 W{w} H{h} F10:1 Ip A1:1 C420\n".encode())
    for k in range(nf):
        payload += b"FRAME\n" + data[k * fsz : (k + 1) * fsz]
    dw, dh, mi = pc.decode(bytes(payload), "video")
    assert (dw, dh) == (w, h)
    assert mi == pytest.approx(
        float(np.frombuffer(data, dtype=np.uint8).mean())
    )


def test_synth_jpeg_assets_decode_through_arrow_stage(spark):
    """End-to-end: the Arrow encode stage emits valid JPEGs whose
    decoded stats match the md5 block convention per asset."""
    import hashlib

    import numpy as np

    decoded = {
        r["asset_id"]: r
        for r in mm.decode_assets(
            mm.synth_jpeg_assets(spark, n=18),
            require_codec=True,
            codec=mm.PixmapCodec(),
        ).collect()
    }
    assert len(decoded) == 18
    for aid in range(18):
        d = hashlib.md5(str(aid).encode()).digest()
        mode, mw, mh = aid % 3, (aid // 3) % 3 + 1, (aid // 9) % 2 + 1
        n = mw * mh
        row = decoded[aid]
        if mode == 0:
            assert (row["decoded_width"], row["decoded_height"]) == (
                8 * mw, 8 * mh,
            )
            want = float(np.mean([d[m % 16] for m in range(n)]))
        else:
            y = lambda j: d[j % 16]  # noqa: E731
            cb = lambda m: d[(3 * m + 5) % 16]  # noqa: E731
            cr = lambda m: d[(3 * m + 11) % 16]  # noqa: E731
            rgb = jpeg.ycbcr_to_rgb
            if mode == 1:
                vals = [
                    rgb(*(np.array([v], np.int64) for v in
                          (y(m), cb(m), cr(m)))).mean()
                    for m in range(n)
                ]
                assert (row["decoded_width"], row["decoded_height"]) == (
                    8 * mw, 8 * mh,
                )
            else:
                vals = [
                    rgb(*(np.array([v], np.int64) for v in
                          (y(j), cb(j // 4), cr(j // 4)))).mean()
                    for j in range(4 * n)
                ]
                assert (row["decoded_width"], row["decoded_height"]) == (
                    16 * mw, 16 * mh,
                )
            want = float(np.mean(vals))
        assert row["mean_intensity"] == pytest.approx(want, abs=1e-9), aid


def test_jpeg_resize_total_roundtrip():
    """resize() is total over JPEG too: decode -> true nearest-neighbor
    -> fixed-point RGB->YCbCr -> re-encode 4:4:4. The lossy chain
    (color transform round trip + unit-quant DCT) stays within a few
    levels of the pure NN resample of the decoded pixels."""
    import numpy as np

    pc = mm.PixmapCodec()
    rng = np.random.default_rng(3)
    # grayscale path
    g = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    rs = pc.resize(jpeg.encode(g), 8, 8)
    w, h, px = jpeg.parse(rs)
    assert (w, h) == (8, 8) and px.shape[2] == 1
    # color path: compare against NN of the decoded source
    y = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    cb = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    cr = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    src = jpeg.encode(y, cb, cr, "444")
    _, _, src_px = jpeg.parse(src)
    rs = pc.resize(src, 8, 8)
    w, h, out = jpeg.parse(rs)
    assert (w, h) == (8, 8) and out.shape == (8, 8, 3)
    ri = (np.arange(8) * 16) // 8
    want = src_px[ri][:, ri]
    err = np.abs(out.astype(int) - want.astype(int)).max()
    assert err <= 6, err


def test_jpeg_restart_markers_round_trip_exact():
    """DRI + RSTn every N MCUs: byte-aligned markers, DC predictor
    resets, stuffed-pad-byte handling — decode stays bit-exact vs the
    same image without restarts (gray, 4:4:4 and 4:2:0)."""
    import hashlib

    import numpy as np

    up = lambda b: np.repeat(np.repeat(b, 8, 0), 8, 1)  # noqa: E731
    d = hashlib.md5(b"13").digest()
    mw, mh = 3, 2
    n = mw * mh
    yb = np.array([d[m % 16] for m in range(n)], np.uint8).reshape(mh, mw)
    cb = np.array(
        [d[(3 * m + 5) % 16] for m in range(n)], np.uint8
    ).reshape(mh, mw)
    cr = np.array(
        [d[(3 * m + 11) % 16] for m in range(n)], np.uint8
    ).reshape(mh, mw)
    for interval in (1, 2, 5):
        plain = jpeg.parse(jpeg.encode(up(yb)))
        rst = jpeg.parse(
            jpeg.encode(
                up(yb), restart_interval=interval
            )
        )
        assert np.array_equal(plain[2], rst[2]), interval
        c_plain = jpeg.parse(
            jpeg.encode(up(yb), up(cb), up(cr), "444")
        )
        c_rst = jpeg.parse(
            jpeg.encode(
                up(yb), up(cb), up(cr), "444", restart_interval=interval
            )
        )
        assert np.array_equal(c_plain[2], c_rst[2]), interval
    # lossy general image with restarts: same pixels as without
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    a = jpeg.parse(jpeg.encode(img))
    b = jpeg.parse(
        jpeg.encode(img, restart_interval=1)
    )
    assert np.array_equal(a[2], b[2])


def test_gif_codec_round_trip_lzw_interlace_and_rejects():
    """Real LZW dictionary compression (width growth through 9-12 bits,
    4096 reset) round-trips bit-exactly; the 4-pass interlace reorders
    rows on disk but decodes to the identical raster; malformed
    payloads raise instead of decoding to garbage."""
    import numpy as np

    pc = mm.PixmapCodec()
    rng = np.random.default_rng(17)
    pal = np.array(
        [[(7 * i) % 256, (11 * i) % 256, (13 * i) % 256]
         for i in range(256)], np.uint8,
    )
    big = rng.integers(0, 256, (80, 90)).astype(np.uint8)  # 7200 px:
    # forces LZW width growth and at least one 4096 dictionary reset
    for idx, inter in [(big, False), (big, True),
                       (np.arange(20, dtype=np.uint8).reshape(5, 4), True)]:
        payload = gif.encode(idx, pal, interlace=inter)
        w, h, got, gpal = gif.parse(payload)
        assert (w, h) == (idx.shape[1], idx.shape[0])
        assert np.array_equal(got, idx), inter
        assert np.array_equal(gpal[: len(pal)], pal)
    # decode()/pixels() dispatch + palette lookup
    payload = gif.encode(big, pal)
    w, h, mi = pc.decode(payload, "image")
    assert (w, h) == (90, 80)
    assert mi == pytest.approx(float(pal[big].mean()))
    assert pc.pixels(payload).shape == (80, 90, 3)
    # resize: NN on the index grid, original palette kept (exact)
    rs = pc.resize(payload, 9, 8)
    w, h, ridx, rpal = gif.parse(rs)
    ri = (np.arange(8) * 80) // 8
    ci = (np.arange(9) * 90) // 9
    assert np.array_equal(ridx, big[ri][:, ci])
    # rejects
    with pytest.raises(ValueError, match="not a GIF"):
        gif.parse(b"NOPE" + payload[4:])
    with pytest.raises(ValueError):
        gif.parse(payload[:40])  # truncated mid-stream


def test_gif_mean_blind_interlace_bug_caught_by_weighted_sum():
    """The design argument for position_weighted_stats, demonstrated: a
    buggy decode that skips the 4-pass reassembly (rows land in file
    order) reproduces the MEAN exactly but fails the position-weighted
    checksum."""
    import numpy as np

    pal = np.array(
        [[(7 * i) % 256, (11 * i) % 256, (13 * i) % 256]
         for i in range(256)], np.uint8,
    )
    idx = np.arange(20, dtype=np.uint8).reshape(5, 4)
    payload = gif.encode(idx, pal, interlace=True)
    _, _, good, _ = gif.parse(payload)
    # simulate the bug: rows in file (interlace) order, no reassembly
    order = [r for s, st in gif.INTERLACE_PASSES
             for r in range(s, 5, st)]
    buggy = good[order]  # naive: file row k lands at raster row k
    assert not np.array_equal(buggy, good)
    s_good = pal[good].astype(np.int64)
    s_bug = pal[buggy].astype(np.int64)
    assert s_good.mean() == s_bug.mean()  # means are blind
    wgt = np.arange(1, 21, dtype=np.int64)
    pw_good = (wgt * s_good.reshape(20, 3).sum(1)).sum()
    pw_bug = (wgt * s_bug.reshape(20, 3).sum(1)).sum()
    assert pw_good != pw_bug  # the weighted checksum is not


def test_tiff_round_trip_structural_matrix():
    """Gray/RGB x II/MM byte orders x uncompressed/PackBits x 1..3-row
    strips: all decode to the identical raster; truncations raise
    ValueError at every cut point."""
    import numpy as np

    pc = mm.PixmapCodec()
    rng = np.random.default_rng(23)
    for ch in (1, 3):
        px = rng.integers(0, 256, (5, 7, ch), dtype=np.uint8)
        for bo in ("II", "MM"):
            for pb in (False, True):
                for rps in (None, 1, 2):
                    payload = tiff.encode(
                        px if ch == 3 else px[:, :, 0],
                        byte_order=bo, packbits=pb, rows_per_strip=rps,
                    )
                    w, h, got = tiff.parse(payload)
                    assert (w, h) == (7, 5)
                    assert np.array_equal(got, px), (ch, bo, pb, rps)
    payload = tiff.encode(
        rng.integers(0, 256, (4, 6, 3), dtype=np.uint8),
        packbits=True, rows_per_strip=2,
    )
    for cut in range(4, len(payload)):
        with pytest.raises(ValueError):
            tiff.parse(payload[:cut])
    with pytest.raises(ValueError, match="not a TIFF"):
        tiff.parse(b"XXXX" + payload[4:])
    # decode()/pixels()/resize() dispatch
    w, h, mi = pc.decode(payload, "image")
    assert (w, h) == (6, 4)
    assert pc.pixels(payload).shape == (4, 6, 3)
    rw, rh, rpx = tiff.parse(pc.resize(payload, 3, 2))
    assert (rw, rh) == (3, 2)


def test_packbits_run_detection_and_edge_cases():
    for data in (
        b"", b"a", b"ab", b"aaa", b"a" * 500,
        bytes(range(200)), b"ab" * 100, b"aaab" * 60,
        bytes([0]) * 128 + bytes([1]),
    ):
        enc = tiff.packbits_encode(data)
        assert tiff.packbits_decode(enc, len(data)) == data, data[:12]
    # runs actually compress
    assert len(tiff.packbits_encode(b"z" * 300)) <= 6


def test_mulaw_wav_decode_canonical_table_values():
    """G.711 mu-law expansion pinned to the canonical ulaw2linear
    extremes (0x00 -> -32124, 0x80 -> +32124, 0x7F/0xFF -> 0) plus the
    RIFF format-7 container walk, odd-length even-pad handling, and
    the mixed-format rejects."""
    import numpy as np

    pc = mm.PixmapCodec()
    codes = bytes([0x00, 0x80, 0x7F, 0xFF, 0x10, 0x90])
    payload = wav.encode_mulaw(codes, 1)
    frames, ch, samples = wav.parse(payload)
    assert (frames, ch) == (6, 1)
    assert list(samples[:4]) == [-32124, 32124, 0, 0]
    # sign symmetry across the complementary code pair
    assert samples[4] == -samples[5]
    # odd byte count: RIFF even pad must not break the walk
    odd = wav.encode_mulaw(bytes([0x00, 0x80, 0xFF]), 1)
    assert len(odd) % 2 == 0
    f2, c2, s2 = wav.parse(odd)
    assert (f2, c2) == (3, 1) and list(s2) == [-32124, 32124, 0]
    # decode() surface: mean |sample| intensity
    w, h, mi = pc.decode(payload, "audio")
    assert (w, h) == (6, 1)
    assert mi == pytest.approx(float(np.abs(samples.astype(np.int64)).mean()))
    # malformed: mu-law with a wrong block align rejects
    import struct

    bad = bytearray(payload)
    fmt_off = payload.index(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_off + 12, 5)  # block_align != channels
    with pytest.raises(ValueError):
        wav.parse(bytes(bad))


def test_aiff_round_trip_and_extended_rate():
    """Big-endian PCM round trip; the 80-bit extended sample-rate field
    parses back to the exact integer rate for the common rates; chunk
    truncations raise ValueError."""
    import numpy as np

    pc = mm.PixmapCodec()
    rng = np.random.default_rng(31)
    for ch in (1, 2):
        for rate in (8000, 16000, 44100, 48000, 96000):
            samples = rng.integers(-32768, 32768, 30 * ch).astype(">i2")
            payload = aiff.encode(samples, ch, rate)
            frames, c2, got, r2 = aiff.parse(payload)
            assert (frames, c2, r2) == (30, ch, rate)
            assert np.array_equal(got, samples)
    payload = aiff.encode(
        rng.integers(-100, 100, 20).astype(">i2"), 2
    )
    w, h, mi = pc.decode(payload, "audio")
    assert (w, h) == (10, 2)
    with pytest.raises(ValueError, match="not an AIFF"):
        aiff.parse(b"FORM\x00\x00\x00\x04WAVE")
    for cut in range(12, len(payload)):
        try:
            aiff.parse(payload[:cut])
        except ValueError:
            continue
        raise AssertionError(f"cut {cut} did not raise")


# --- synth-data census (bench rebaseline trigger, r12) -------------------


def test_mixed_asset_census_matches_generator_output(spark):
    """The census gen_bench_baseline.py keys its rebaseline on must be
    the TRUTH about synth_mixed_assets — a hand-maintained count that
    drifted from the generator would silently re-open the r11 stale-
    median hole (WEBP added, pre-WEBP median kept forever)."""
    census = mm.mixed_asset_census()
    rows = mm.synth_mixed_assets(spark).select("asset_id").collect()
    by_offset: dict[int, int] = {}
    for r in rows:
        by_offset[r["asset_id"] // 1000] = (
            by_offset.get(r["asset_id"] // 1000, 0) + 1
        )
    spec_counts = {
        off // 1000: n for _f, _g, off, n in mm._MIXED_ASSET_SPEC
    }
    assert by_offset == spec_counts
    assert census == {
        fmt: n for fmt, _g, _off, n in mm._MIXED_ASSET_SPEC
    }
    assert len(rows) == sum(census.values())


def test_registry_data_census_covers_registered_queries_only():
    from trino_adaptive_partitioning_tool_spark.queries import registry

    census = registry.data_census()
    qs = registry.queries()
    assert set(census) <= set(qs)
    # the query that motivated the trigger must carry a census, and its
    # census must be the generator truth
    assert census["multimodal_mixed_corpus_stats"] == {
        "mixed_assets": mm.mixed_asset_census()
    }
    # censuses must be plain JSON-stable data (the baseline generator
    # compares them by equality after a JSON round trip)
    import json

    assert json.loads(json.dumps(census)) == census


# --- decode quarantine (r12: media_to_corpus_pipeline ingest mode) -------


def test_decode_quarantine_routes_corrupt_payloads(spark):
    """on_error='quarantine': corrupt payloads keep their row identity
    with NULL stats and decode_ok=False; valid rows match the raise-mode
    decode exactly. A corrupt row under on_error='raise' propagates."""
    from pyspark.sql import functions as F

    assets = mm.synth_phash_assets(spark, n=8, partitions=2)
    corrupt = assets.withColumn(
        "asset_id", F.col("asset_id") + 100
    ).withColumn("payload", F.expr("substring(payload, 1, 40)"))
    codec = mm.PixmapCodec()
    out = {
        r["asset_id"]: r
        for r in mm.decode_assets(
            assets.unionByName(corrupt),
            require_codec=True,
            codec=codec,
            on_error="quarantine",
        ).collect()
    }
    clean = {
        r["asset_id"]: r
        for r in mm.decode_assets(
            assets, require_codec=True, codec=codec
        ).collect()
    }
    assert len(out) == 16
    for aid in range(8):
        good, bad = out[aid], out[aid + 100]
        assert good["decode_ok"] is True
        # valid rows carry the exact raise-mode stats
        ref = clean[aid]
        assert (
            good["decoded_width"],
            good["decoded_height"],
            good["mean_intensity"],
        ) == (
            ref["decoded_width"],
            ref["decoded_height"],
            ref["mean_intensity"],
        )
        assert bad["decode_ok"] is False
        assert bad["decoded_width"] is None
        assert bad["decoded_height"] is None
        assert bad["mean_intensity"] is None
        assert bad["payload_bytes"] == 40
    # raise mode: the same corrupt payloads kill the job (fail-loud)
    with pytest.raises(Exception):
        mm.decode_assets(
            corrupt, require_codec=True, codec=codec
        ).collect()
    with pytest.raises(ValueError, match="on_error"):
        mm.decode_assets(assets, codec=codec, on_error="bogus")


def test_fused_decode_phash_matches_unfused_paths(spark):
    """decode_assets_with_phash must be bit-identical to the unfused
    composition: decode stats == decode_assets(on_error='quarantine'),
    raster hashes == perceptual_hashes — same _avg_hash, same pixels.
    Mixed corpus: rasters (planted dups), WAV audio (no hash fields),
    and a corrupt leg (quarantined, NULL everything)."""
    from pyspark.sql import functions as F

    codec = mm.PixmapCodec()
    images = mm.synth_phash_assets(spark, n=16, partitions=2)
    audio = mm.synth_wav_assets(spark, n=8, partitions=2).withColumn(
        "asset_id", F.col("asset_id") + 1000
    )
    corrupt = (
        mm.synth_phash_assets(spark, n=4, partitions=2)
        .withColumn("asset_id", F.col("asset_id") + 2000)
        .withColumn("payload", F.expr("substring(payload, 1, 40)"))
    )
    corpus = images.unionByName(audio).unionByName(corrupt)
    fused = {
        r["asset_id"]: r
        for r in mm.decode_assets_with_phash(
            corpus, require_codec=True, codec=codec
        ).collect()
    }
    plain = {
        r["asset_id"]: r
        for r in mm.decode_assets(
            corpus, require_codec=True, codec=codec, on_error="quarantine"
        ).collect()
    }
    hashes = {
        r["asset_id"]: r
        for r in mm.perceptual_hashes(
            images, require_codec=True, codec=codec
        ).collect()
    }
    assert len(fused) == 28
    for aid, f in fused.items():
        p = plain[aid]
        assert (
            f["decoded_width"], f["decoded_height"], f["mean_intensity"],
            f["payload_bytes"], f["decode_ok"],
        ) == (
            p["decoded_width"], p["decoded_height"], p["mean_intensity"],
            p["payload_bytes"], p["decode_ok"],
        ), aid
        if aid < 1000:  # raster: hash fields match perceptual_hashes
            h = hashes[aid]
            assert (f["ch"], f["n_pixels"], f["phash"]) == (
                h["ch"], h["n_pixels"], h["phash"]
            ), aid
        else:  # audio / corrupt: no hash fields
            assert f["ch"] is None and f["phash"] is None, aid


def test_audio_fingerprint_planted_recall_and_bounds(spark):
    """r13 audio near-dup gate: every planted (4k, 4k+3) pair must
    survive the banded join at hamming <= 4 (pigeonhole recall), the
    perturbed half must sit within the 3-bit envelope the two-band
    perturbation allows, and at least one planted pair must straddle
    the WAV/AIFF container boundary (cross-container dedup)."""
    from trino_adaptive_partitioning_tool_spark.operators import (
        multimodal as mm,
    )

    n = 64
    fps = {
        int(r["asset_id"]): int(r["afp"])
        for r in mm.audio_fingerprints(
            mm.synth_afp_assets(spark, n=n),
            require_codec=True,
            codec=mm.PixmapCodec(),
        ).collect()
    }
    assert len(fps) == n
    cross_container = 0
    for aid in range(3, n, 4):
        ham = bin(fps[aid] ^ fps[aid - 3]).count("1")
        if aid % 8 == 7:
            assert ham <= 3, f"perturbed pair ({aid-3},{aid}): {ham}"
        else:
            assert ham == 0, f"exact pair ({aid-3},{aid}): {ham}"
        if (aid % 5 == 2) != ((aid - 3) % 5 == 2):
            cross_container += 1
    assert cross_container > 0, "no planted pair spans WAV/AIFF"
    # unrelated fingerprints must sit far outside the gate
    ham_unrel = bin(fps[0] ^ fps[1]).count("1")
    assert ham_unrel > 10, f"unrelated assets too close: {ham_unrel}"


def test_audio_fingerprint_window_guard_and_pcm_seam():
    """audio_fingerprint fail-louds under the 162-sample window; the
    pcm() seam returns channel 0 of an interleaved stereo WAV."""
    import numpy as np
    import pytest as _pytest

    from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
        AFP_WINDOW,
        PixmapCodec,
        audio_fingerprint,
    )

    with _pytest.raises(ValueError, match="162"):
        audio_fingerprint(np.zeros(AFP_WINDOW - 1, np.int16))
    ch0 = np.arange(AFP_WINDOW, dtype=np.int16)
    ch1 = -ch0
    inter = np.empty(2 * AFP_WINDOW, np.int16)
    inter[0::2], inter[1::2] = ch0, ch1
    got = PixmapCodec().pcm(wav.encode(inter, 2))
    assert np.array_equal(got, ch0)
