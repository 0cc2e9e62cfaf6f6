"""Property-based round-trip fuzz for the real codecs (hypothesis).

The fixed-seed unit tests pin known shapes; these generate arbitrary
dims/channels/content per run so encoder/decoder state machines (PNG
filter cycling, JPEG Huffman + subsampling + restart markers, GIF LZW
width growth + interlace, WAV block alignment) are exercised across the
whole parameter lattice, not just the synth generators' corner.

CODEC_FUZZ_EXAMPLES=2000 python -m pytest tests/test_codec_fuzz.py
for the certification sweep; default keeps CI fast.
"""

from __future__ import annotations

import os

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from trino_adaptive_partitioning_tool_spark.operators.codecs import (
    aiff,
    avi,
    flac,
    gif,
    jpeg,
    netpbm,
    png,
    tiff,
    wav,
    webp,
)
from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
    PixmapCodec,
)

_EXAMPLES = int(os.environ.get("CODEC_FUZZ_EXAMPLES", "25"))
_pc = PixmapCodec()


def _img(draw, h, w, ch):
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    return a[:, :, 0] if ch == 1 else a


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_png_round_trip_exact(data):
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    ch = data.draw(st.sampled_from([1, 2, 3, 4]))
    px = _img(data.draw, h, w, ch)
    arr = px if px.ndim == 3 else px[:, :, None]
    got = png.parse(png.encode(arr))[2]
    assert np.array_equal(got, arr)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_png_depth_grid_round_trip_exact(data):
    """The r13 depth grid: 16-bit samples (any non-palette color type)
    and packed 1/2/4-bit gray / palette index planes round-trip
    bit-exactly, sequential and Adam7 — the filter offset is
    bytes-per-pixel (min 1), so a wrong bpp corrupts Sub/Paeth rows
    immediately."""
    h = data.draw(st.integers(1, 16))
    w = data.draw(st.integers(1, 16))
    inter = data.draw(st.booleans())
    kind = data.draw(st.sampled_from(["16", "gray_packed", "pal_packed"]))
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    if kind == "16":
        ch = data.draw(st.sampled_from([1, 2, 3, 4]))
        px = rng.integers(0, 65536, (h, w, ch)).astype(np.uint16)
        kw = {"depth": 16}
    elif kind == "gray_packed":
        d = data.draw(st.sampled_from([1, 2, 4]))
        px = rng.integers(0, 1 << d, (h, w, 1)).astype(np.uint8)
        kw = {"depth": d}
    else:
        d = data.draw(st.sampled_from([1, 2, 4]))
        pal = rng.integers(0, 256, (1 << d, data.draw(st.sampled_from([3, 4]))))
        px = pal[rng.integers(0, 1 << d, (h, w))].astype(np.uint8)
        kw = {"depth": d, "palette": True}
    got = png.parse(png.encode(px, interlace=inter, **kw))[2]
    assert got.dtype == px.dtype
    assert np.array_equal(got, px)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_png_adam7_round_trip_exact(data):
    """Progressive (Adam7) PNG is a LAYOUT change, not a value change:
    any raster round-trips bit-exactly through the seven-pass
    gather/filter/scatter, and decodes identically to its sequential
    twin. Dims below 8 force empty and single-pixel passes — the edge
    cases a wrong pass table corrupts silently (the r12 implementation
    caught exactly such a table bug in its first fuzz run)."""
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    ch = data.draw(st.sampled_from([1, 2, 3, 4]))
    px = _img(data.draw, h, w, ch)
    arr = px if px.ndim == 3 else px[:, :, None]
    pay = png.encode(arr, interlace=True)
    got = png.parse(pay)[2]
    assert np.array_equal(got, arr)
    assert np.array_equal(
        got, png.parse(png.encode(arr))[2]
    )
    # truncation that removes IHDR/IDAT bytes must raise the contract
    # ValueError (cuts inside the 12-byte IEND trailer lose no data)
    cut = data.draw(st.integers(10, len(pay) - 13))
    try:
        png.parse(pay[:cut])
    except ValueError:
        pass
    else:
        raise AssertionError(f"cut {cut} did not raise")


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_png_palette_round_trip_exact(data):
    """Indexed-color (type 3) PNG: RGB rasters via PLTE, RGBA rasters
    via PLTE + per-entry tRNS alphas, optionally Adam7-interlaced on
    top — always decoding back to the exact input raster regardless of
    how few or many (up to 256) distinct colors the image uses."""
    h = data.draw(st.integers(1, 20))
    w = data.draw(st.integers(1, 20))
    ch = data.draw(st.sampled_from([3, 4]))
    inter = data.draw(st.booleans())
    n_colors = data.draw(st.integers(1, 12))
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, ch), dtype=np.uint8)
    px = pal[rng.integers(0, n_colors, (h, w))]
    pay = png.encode(px, interlace=inter, palette=True)
    w2, h2, out = png.parse(pay)
    assert (w2, h2) == (w, h)
    assert out.shape == px.shape  # tRNS presence must preserve RGBA
    assert np.array_equal(out, px)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_webp_round_trip_exact(data):
    """VP8L is lossless: any RGB/RGBA raster round-trips bit-exactly
    through the canonical-Huffman literal pipeline, including shapes
    that force every code form (constant rasters -> 1-symbol simple
    codes; two-valued rasters -> 2-symbol simple codes; full-entropy
    rasters -> normal codes through the code-length code)."""
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    ch = data.draw(st.sampled_from([3, 4]))
    mode = data.draw(st.sampled_from(["full", "const", "two"]))
    px = _img(data.draw, h, w, ch)
    if mode == "const":
        px = np.full_like(px, px.flat[0])
    elif mode == "two":
        px = np.where(px % 2 == 0, px.flat[0], px.flat[-1]).astype(np.uint8)
    dw, dh, got = webp.parse(webp.encode(px))
    assert (dw, dh) == (w, h)
    assert np.array_equal(got, px)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_webp_lz_round_trip_exact(data):
    """The RFC 9649 backref + color-cache path is equally lossless:
    tiled rasters (vertical period 1..8 rows) force real LZ77 matches
    at dist = k*width — neighborhood distance codes below the 8+7w
    ceiling, the dist+120 literal form above it — while cache_bits
    sweeps 0..11, and the decode must reproduce every pixel exactly."""
    w = data.draw(st.integers(1, 20))
    h0 = data.draw(st.integers(1, 8))
    reps = data.draw(st.integers(1, 5))
    ch = data.draw(st.sampled_from([3, 4]))
    cache_bits = data.draw(st.integers(0, 11))
    backrefs = data.draw(st.booleans())
    kind = data.draw(st.sampled_from(
        ["plain", "sg", "pred", "sg+pred+color", "color", "palette",
         "meta", "meta+pred"]
    ))
    kw = {"backrefs": backrefs, "cache_bits": cache_bits}
    if kind == "sg":
        kw["subtract_green"] = True
    elif kind == "pred":
        kw["predictor"] = data.draw(st.integers(0, 13))
    elif kind == "sg+pred+color":
        kw.update(
            subtract_green=True,
            predictor=data.draw(st.integers(0, 13)),
            color_cte=(
                data.draw(st.integers(-128, 127)),
                data.draw(st.integers(-128, 127)),
                data.draw(st.integers(-128, 127)),
            ),
        )
    elif kind == "color":
        kw["color_cte"] = (
            data.draw(st.integers(-128, 127)),
            data.draw(st.integers(-128, 127)),
            data.draw(st.integers(-128, 127)),
        )
    elif kind == "meta":
        kw["meta_groups"] = 2
    elif kind == "meta+pred":
        kw.update(meta_groups=2, predictor=data.draw(st.integers(0, 13)))
    if kind == "plain" and not (backrefs or cache_bits):
        kw["cache_bits"] = 1  # plain-literal mode is the other test's job
    tile = _img(data.draw, h0, w, ch)
    if kind == "palette":
        # quantize to <= 16 colors so bundling kicks in
        pal = tile.reshape(-1, ch)[:16]
        idx = np.arange(h0 * w) % len(pal)
        tile = pal[idx].reshape(h0, w, ch)
        kw["palette"] = True
    px = np.tile(tile, (reps, 1, 1))
    pay = webp.encode(px, **kw)
    dw, dh, got = webp.parse(pay)
    assert (dw, dh) == (w, h0 * reps)
    assert np.array_equal(got, px)


def test_vp8l_dist_table_is_spec_permutation():
    """The neighborhood map inverts the plane-to-code lut into a
    permutation of codes 1..120 whose documented prefix matches the
    spec's ordered listing."""
    table = webp.DIST_TABLE
    assert table[0] is None and len(table) == 121
    assert sorted(set(table[1:])) == sorted(table[1:])  # injective
    assert table[1:13] == (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
    )
    assert table[120] == (8, 7)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.integers(1, 1 << 20))
def test_vp8l_prefix_split_inverts_prefix_read(value):
    """_vp8l_prefix_split is the exact encoder-side inverse of the
    decoder's length/distance prefix-value read."""
    sym, extra_val, extra_bits = webp.prefix_split(value)
    assert 0 <= extra_val < (1 << extra_bits) if extra_bits else extra_val == 0

    class _FakeBr:
        def read(self, n):
            assert n == extra_bits
            return extra_val

    assert webp.prefix_read(sym, _FakeBr()) == value


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_jpeg_round_trip_bounded_error(data):
    """Unit quant tables: the only loss is FDCT/IDCT rounding, so every
    sample returns within a few levels; dims include non-MCU multiples
    (edge padding + crop) and optional restart markers."""
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    dri = data.draw(st.sampled_from([0, 1, 3]))
    gray = _img(data.draw, h, w, 1)
    dw, dh, px = jpeg.parse(
        jpeg.encode(gray, restart_interval=dri)
    )
    assert (dw, dh) == (w, h)
    assert np.abs(px[:, :, 0].astype(int) - gray.astype(int)).max() <= 4
    # color 4:2:0 (even-ish chroma grid derived from luma dims)
    cw, chh = (w + 1) // 2, (h + 1) // 2
    cb = _img(data.draw, chh, cw, 1)
    cr = _img(data.draw, chh, cw, 1)
    dw, dh, px = jpeg.parse(
        jpeg.encode(gray, cb, cr, "420", restart_interval=dri)
    )
    assert (dw, dh, px.shape[2]) == (w, h, 3)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_progressive_jpeg_decodes_identically_to_baseline(data):
    """The strongest progressive certificate available without an
    external decoder: for ANY raster, the SOF2 successive-approximation
    scan script must reassemble the exact coefficients the baseline
    SOF0 encoding carries, so both payloads decode to IDENTICAL pixels
    (they share quant tables and the IDCT). Exercises DC first/refine,
    AC first/refine, EOBn runs and buffered correction bits."""
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    gray = _img(data.draw, h, w, 1)
    _, _, prog = jpeg.parse(
        jpeg.encode_progressive(gray)
    )
    _, _, base = jpeg.parse(jpeg.encode(gray))
    assert np.array_equal(prog, base)
    cb = _img(data.draw, h, w, 1)
    cr = _img(data.draw, h, w, 1)
    _, _, prog = jpeg.parse(
        jpeg.encode_progressive(gray, cb, cr)
    )
    _, _, base = jpeg.parse(
        jpeg.encode(gray, cb, cr, "444")
    )
    assert np.array_equal(prog, base)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_jpeg_constant_blocks_exact(data):
    """The certified-oracle property itself, fuzzed: ANY constant-block
    YCbCr image round-trips bit-exactly through the lossy pipeline."""
    mw = data.draw(st.integers(1, 3))
    mh = data.draw(st.integers(1, 2))
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    up = lambda b: np.repeat(np.repeat(b, 8, 0), 8, 1)  # noqa: E731
    yb = rng.integers(0, 256, (2 * mh, 2 * mw), dtype=np.uint8)
    cb = rng.integers(0, 256, (mh, mw), dtype=np.uint8)
    cr = rng.integers(0, 256, (mh, mw), dtype=np.uint8)
    _, _, px = jpeg.parse(
        jpeg.encode(up(yb), up(cb), up(cr), "420")
    )
    exp = jpeg.ycbcr_to_rgb(
        up(yb).astype(np.int64),
        np.repeat(np.repeat(up(cb), 2, 0), 2, 1).astype(np.int64),
        np.repeat(np.repeat(up(cr), 2, 0), 2, 1).astype(np.int64),
    )
    assert np.array_equal(px, exp)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_gif_round_trip_exact(data):
    h = data.draw(st.integers(1, 40))
    w = data.draw(st.integers(1, 40))
    n_colors = data.draw(st.sampled_from([4, 16, 64, 256]))
    interlace = data.draw(st.booleans())
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, n_colors, (h, w), dtype=np.uint8)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    dw, dh, got, gpal = gif.parse(
        gif.encode(idx, pal, interlace=interlace)
    )
    assert (dw, dh) == (w, h)
    assert np.array_equal(got, idx)
    assert np.array_equal(gpal[:n_colors], pal)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_lzw_arbitrary_streams_round_trip(data):
    min_code = data.draw(st.integers(2, 8))
    n = data.draw(st.integers(0, 4000))
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    # mixed profile: random spans interleaved with runs (KwKwK bait)
    vals = []
    while len(vals) < n:
        if rng.integers(0, 2):
            vals.extend(
                int(v) for v in rng.integers(0, 1 << min_code, 17)
            )
        else:
            vals.extend([int(rng.integers(0, 1 << min_code))] * 23)
    vals = vals[:n]
    if not vals:
        return
    enc = gif.lzw_encode(vals, min_code)
    assert gif.lzw_decode(enc, min_code, len(vals)) == vals


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_adpcm_decode_matches_independent_state_machine(data):
    """The production IMA-ADPCM decoder vs a from-the-spec dict/loop
    reimplementation over arbitrary (predictor, index, nibble-stream)
    blocks — including the int16 and step-index clamp paths."""
    step_t = wav.IMA_STEP_TABLE
    idx_t = wav.IMA_INDEX_TABLE

    def ref(blocks):
        out = []
        for pred, idx, nibs in blocks:
            out.append(pred)
            for n in nibs:
                step = step_t[idx]
                diff = step >> 3
                if n & 4:
                    diff += step
                if n & 2:
                    diff += step >> 1
                if n & 1:
                    diff += step >> 2
                pred = pred - diff if n & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + idx_t[n & 7]))
                out.append(pred)
        return out

    n_blocks = data.draw(st.integers(1, 3))
    n_nib = 2 * data.draw(st.integers(1, 8))
    blocks = [
        (
            data.draw(st.integers(-32768, 32767)),
            data.draw(st.integers(0, 88)),
            data.draw(
                st.lists(
                    st.integers(0, 15), min_size=n_nib, max_size=n_nib
                )
            ),
        )
        for _ in range(n_blocks)
    ]
    frames, ch, samples = wav.parse(
        wav.encode_adpcm(blocks)
    )
    assert ch == 1 and frames == n_blocks * (n_nib + 1)
    assert list(samples) == ref(blocks)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_wav_round_trip_exact(data):
    frames = data.draw(st.integers(1, 500))
    channels = data.draw(st.integers(1, 4))
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, frames * channels).astype("<i2")
    fr, ch, got = wav.parse(wav.encode(samples, channels))
    assert (fr, ch) == (frames, channels)
    assert np.array_equal(got, samples)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_flac_round_trip_exact(data):
    frames = data.draw(st.integers(1, 200))
    channels = data.draw(st.integers(1, 4))
    stereo_mode = (
        data.draw(
            st.sampled_from(
                ["independent", "left_side", "right_side", "mid_side"]
            )
        )
        if channels == 2
        else "independent"
    )
    block_size = data.draw(st.integers(1, 64))
    po = data.draw(st.integers(0, 2))
    verbatim = data.draw(st.booleans())
    escape = data.draw(st.booleans())
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    # mix full-range noise with smooth/constant runs so every subframe
    # type (constant/verbatim/fixed orders) and wasted-bits detection
    # gets real traffic
    kind = data.draw(st.sampled_from(["noise", "smooth", "shifted"]))
    n = frames * channels
    if kind == "noise":
        samples = rng.integers(-32768, 32768, n)
    elif kind == "smooth":
        samples = np.cumsum(rng.integers(-3, 4, n)) + rng.integers(-50, 50)
        samples = np.clip(samples, -32768, 32767)
    else:
        samples = rng.integers(-2048, 2048, n) * 16
    samples = samples.astype("<i2")
    payload = flac.encode(
        samples,
        channels,
        block_size=block_size,
        stereo_mode=stereo_mode,
        force_verbatim=verbatim,
        partition_order=po,
        force_escape=escape,
    )
    fr, ch, got, rate = flac.parse(payload)
    assert (fr, ch, rate) == (frames, channels, 16000)
    assert np.array_equal(got, samples)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_truncation_always_raises_valueerror(data):
    """The 'never fakes a result' contract, fuzzed: any prefix of a
    valid payload either raises ValueError or (for formats whose tail
    is pure padding) decodes identically — never a different result,
    never a foreign exception type."""
    kind = data.draw(
        st.sampled_from(
            [
                "png", "jpeg", "gif", "wav", "flac", "avi", "webp", "adpcm",
                "bmp", "aiff", "mulaw", "progressive_jpeg", "tiff", "ppm",
            ]
        )
    )
    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    if kind == "png":
        payload = png.encode(
            rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        )
    elif kind == "webp":
        payload = webp.encode(
            rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        )
    elif kind == "adpcm":
        payload = wav.encode_adpcm(
            [(100, 5, [int(x) for x in rng.integers(0, 16, 8)])] * 2
        )
    elif kind == "jpeg":
        payload = jpeg.encode(
            rng.integers(0, 256, (8, 8), dtype=np.uint8)
        )
    elif kind == "gif":
        payload = gif.encode(
            rng.integers(0, 16, (5, 7), dtype=np.uint8),
            rng.integers(0, 256, (16, 3), dtype=np.uint8),
        )
    elif kind == "wav":
        payload = wav.encode(
            rng.integers(-100, 100, 40).astype("<i2"), 2
        )
    elif kind == "flac":
        payload = flac.encode(
            rng.integers(-32768, 32768, 40).astype("<i2"), 2,
            block_size=8,
        )
    elif kind == "bmp":
        payload = netpbm.encode_bmp(
            rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        )
    elif kind == "ppm":
        payload = netpbm.encode(
            rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        )
    elif kind == "tiff":
        payload = tiff.encode(
            rng.integers(0, 256, (5, 7, 3), dtype=np.uint8),
            rows_per_strip=2,
        )
    elif kind == "aiff":
        payload = aiff.encode(
            rng.integers(-100, 100, 40).astype(">i2"), 2
        )
    elif kind == "mulaw":
        payload = wav.encode_mulaw(
            rng.integers(0, 256, 39, dtype=np.uint8).tobytes(), 1
        )
    elif kind == "progressive_jpeg":
        payload = jpeg.encode_progressive(
            rng.integers(0, 256, (8, 16), dtype=np.uint8)
        )
    else:
        jf = jpeg.encode(
            rng.integers(0, 256, (8, 8), dtype=np.uint8)
        )
        payload = avi.encode([jf, jf], 8, 8)
    full = _pc.decode(payload, "image")
    cut = data.draw(st.integers(1, len(payload) - 1))
    try:
        got = _pc.decode(payload[:cut], "image")
    except ValueError:
        return
    assert got == full  # only acceptable non-raise: pure-padding tail


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.data())
def test_tiff_round_trip_exact(data):
    h = data.draw(st.integers(1, 20))
    w = data.draw(st.integers(1, 20))
    ch = data.draw(st.sampled_from([1, 3]))
    bo = data.draw(st.sampled_from(["II", "MM"]))
    pb = data.draw(st.booleans())
    rps = data.draw(st.integers(1, 5))
    px = _img(data.draw, h, w, ch)
    arr = px if px.ndim == 3 else px[:, :, None]
    got = tiff.parse(
        tiff.encode(px, byte_order=bo, packbits=pb,
                                 rows_per_strip=rps)
    )[2]
    assert np.array_equal(got, arr)


@settings(max_examples=_EXAMPLES, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_packbits_arbitrary_bytes_round_trip(data):
    enc = tiff.packbits_encode(data)
    assert tiff.packbits_decode(enc, len(data)) == data
