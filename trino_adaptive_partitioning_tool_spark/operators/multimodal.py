"""Multimodal (image/audio/video) column plumbing for training-data
pipelines (extensions layer).

Media travels as an opaque `binary` payload column plus typed metadata —
the layout a 100 TB multimodal corpus uses (payload bytes stay columnar
in parquet; metadata prunes without touching payloads). Decode/resize/
frame-sample are Arrow-batched `mapInPandas` stages, and TWO codec
implementations exist behind one dispatch seam:

- the default deterministic fake (`_fake_decode_*`) — hash-derived
  pixels/samples, used where only the Spark-side plumbing (schema,
  batch shape, partitioning) is under test; and
- `PixmapCodec` (operators/codecs) — a REAL pure-python decoder and
  encoder for the container's full format census: PPM/PGM, BMP, PNG
  (all filter types), GIF (LZW), TIFF, baseline + progressive (SOF2)
  JPEG, VP8L WebP-lossless, WAV PCM, IMA-ADPCM (WAV fmt 0x11), µ-law,
  AIFF, FLAC, Y4M, MJPEG-AVI. Registered decode queries pass
  `require_codec=True, codec=PixmapCodec()` and are oracle-checked
  end-to-end; NotImplementedError sites are fail-loud guards naming
  the specific unsupported codec VARIANT (e.g. interlaced PNG), not
  stubs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from typing import Protocol, runtime_checkable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import rowmap
from .codecs import aiff, avi, flac, gif, jpeg, netpbm, png, tiff, wav, webp, y4m
from .codecs.pixmap import PixmapCodec, is_raster  # noqa: F401 (the real Codec)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_MEDIA_TYPES = ("image", "audio", "video")
_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}


def synth_assets(spark: SparkSession, n: int = 256, partitions: int = 8) -> DataFrame:
    """Deterministic synthetic asset table (payload = repeated md5 bytes of
    the asset id — stable across runs, no RNG): the stand-in for a real
    `spark.read.format("binaryFile")` load."""
    base = spark.range(0, n, 1, partitions).select(
        F.col("id").alias("asset_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in _MEDIA_TYPES]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )
    payload = F.to_binary(
        F.repeat(F.md5(F.col("asset_id").cast("string")), 8), F.lit("hex")
    )
    meta = F.struct(
        (F.col("asset_id") % 1920 + 1).cast("int").alias("width"),
        (F.col("asset_id") % 1080 + 1).cast("int").alias("height"),
        F.when(F.col("media_type") == "audio", F.lit(16000)).cast("int").alias(
            "sample_rate"
        ),
        F.when(F.col("media_type") != "image", (F.col("asset_id") % 60000))
        .cast("int")
        .alias("duration_ms"),
        F.element_at(
            F.array(*[F.lit(_FORMATS[m]) for m in _MEDIA_TYPES]),
            (F.col("asset_id") % 3 + 1).cast("int"),
        ).alias("format"),
    )
    return base.select("asset_id", "media_type", payload.alias("payload"), meta.alias("meta"))


def synth_ppm_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-format asset table: each payload is a valid
    binary PPM (P6) image — 'P6\\n{w} {h}\\n255\\n' header plus w*h*3 raw
    pixel bytes taken from the md5 digest of the asset id repeated (no
    RNG, replayable byte-for-byte in DuckDB SQL). Dimensions vary per
    asset (w in 2..7, h in 2..5) so real header parsing is exercised,
    not just a fixed offset."""
    base = spark.range(0, n, 1, partitions).select(
        F.col("id").alias("asset_id"),
        (F.col("id") % 6 + 2).cast("int").alias("w"),
        (F.col("id") % 4 + 2).cast("int").alias("h"),
    )
    n_px = (F.col("w") * F.col("h") * 3).cast("int")
    header = F.concat(
        F.lit("P6\n"), F.col("w").cast("string"), F.lit(" "),
        F.col("h").cast("string"), F.lit("\n255\n"),
    )
    # 7 digest repeats = 112 bytes >= max w*h*3 (= 7*5*3 = 105)
    pixels = F.substring(
        F.to_binary(
            F.repeat(F.md5(F.col("asset_id").cast("string")), 7), F.lit("hex")
        ),
        1,
        n_px,
    )
    meta = F.struct(
        F.col("w").alias("width"),
        F.col("h").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.lit("ppm").alias("format"),
    )
    return base.select(
        "asset_id",
        F.lit("image").alias("media_type"),
        F.concat(F.to_binary(header, F.lit("utf-8")), pixels).alias("payload"),
        meta.alias("meta"),
    )


# the asset table every real-format synth generator emits:
# (asset_id, media_type, payload, typed meta struct)
SYNTH_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            False,
        ),
    ]
)


def _encoded_assets(
    spark: SparkSession,
    n: int,
    partitions: int,
    encode: Callable[[int], tuple],
) -> DataFrame:
    """The Arrow encode stage every real-format generator runs: one
    SYNTH_ASSET_SCHEMA row per id of spark.range(0, n, 1, partitions),
    ``(asset_id, *encode(asset_id))`` where ``encode`` returns
    ``(media_type, payload, meta)`` — batched pandas over binary
    columns, the same stage shape as the production decode path."""

    return rowmap.map_rows(
        spark.range(0, n, 1, partitions),
        SYNTH_ASSET_SCHEMA,
        lambda aid: [(aid, *encode(aid))],
    )


def _digest(key) -> bytes:
    return hashlib.md5(str(key).encode()).digest()


def _digest_cycle(key, need: int) -> bytes:
    """``need`` bytes cycling the 16 md5 digest bytes of ``key`` (byte j
    is d[j % 16]): the no-RNG convention the oracles replay."""
    return (_digest(key) * (need // 16 + 1))[:need]


def _block_stream(key, need: int) -> bytes:
    """``need`` bytes of md5(f"{key}|0") + md5(f"{key}|1") + ...: a
    full-entropy stream, one md5 per 16-byte block. The single-digest
    cycle repeats gray values every 16/gcd(ch,16) pixels, which would
    collapse a hash space that has to keep unrelated assets ~N/2 bits
    apart."""
    return b"".join(
        _digest(f"{key}|{blk}") for blk in range(need // 16 + 1)
    )[:need]


def _digest_raster(key, h: int, w: int, ch: int) -> np.ndarray:
    return np.frombuffer(_digest_cycle(key, h * w * ch), np.uint8).reshape(
        h, w, ch
    )


def _block_plane(values, mh: int, mw: int) -> np.ndarray:
    """An (8*mh, 8*mw) plane of constant 8x8 blocks, block m (raster
    order) = values[m]."""
    blocks = np.array(values, np.uint8).reshape(mh, mw)
    return np.repeat(np.repeat(blocks, 8, 0), 8, 1)


def _ycc_planes(d: bytes, mh: int, mw: int) -> tuple[np.ndarray, ...]:
    """Y/Cb/Cr block planes of the constant-block JPEG convention: block
    m has Y = d[m % 16], Cb = d[(3m+5) % 16], Cr = d[(3m+11) % 16]."""
    return tuple(
        _block_plane([d[(k * m + off) % 16] for m in range(mw * mh)], mh, mw)
        for k, off in ((1, 0), (3, 5), (3, 11))
    )


def synth_png_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-PNG asset table: each payload is a valid PNG
    (CRC-checked chunks, zlib IDAT, per-row filter cycle 0-4) whose
    pixel samples cycle the 16 md5 digest bytes of the asset id — the
    same no-RNG convention as synth_ppm_assets, so a DuckDB oracle can
    re-derive the decoded statistics without parsing PNG at all. Color
    type varies per asset (gray / RGB / RGBA via asset_id % 3) and the
    filter cycle means decoding exercises every filter inverse; the
    asset_id % 5 == 2 subset is written PROGRESSIVE (Adam7 interlace)
    and the asset_id % 7 == 3 non-gray subset INDEXED (palette /
    color type 3, with tRNS alphas for the RGBA assets; the two
    layouts compose where the moduli coincide) — same pixels, different
    file layout, so every PNG oracle carries over unchanged while the
    decoder must reassemble passes and/or materialize the palette.
    Encoding runs in the SAME Arrow mapInPandas stage shape as the
    production decode path (batched pandas over binary columns)."""

    def encode(aid: int):
        w, h, ch = aid % 6 + 2, aid % 4 + 2, (1, 3, 4)[aid % 3]
        payload = png.encode(
            _digest_raster(aid, h, w, ch),
            interlace=aid % 5 == 2,
            palette=aid % 7 == 3 and ch != 1,
        )
        return "image", payload, (w, h, None, None, "png")

    return _encoded_assets(spark, n, partitions, encode)


def synth_webp_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL WebP-lossless asset table: each payload is a
    valid RIFF/WEBP container with a VP8L chunk (canonical Huffman-coded
    ARGB literals) whose pixel samples cycle the 16 md5 digest bytes of
    the asset id — the synth_png_assets convention, so the same
    digest-arithmetic oracle applies. VP8L is always RGB(A): channel
    count alternates 3/4 via asset_id % 2 and rides the header's
    alpha-hint bit, so both paths are separately certified."""

    def encode(aid: int):
        w, h, ch = aid % 6 + 2, aid % 4 + 2, (3, 4)[aid % 2]
        payload = webp.encode(_digest_raster(aid, h, w, ch))
        return "image", payload, (w, h, None, None, "webp")

    return _encoded_assets(spark, n, partitions, encode)


def _WEBP_LZ_VARIANTS(aid: int) -> dict:
    """Deterministic per-asset transform selection for
    synth_webp_lz_assets (module-level so the Arrow UDF closure stays
    picklable)."""
    variant = aid % 5
    if variant == 1:
        return {"subtract_green": True}
    if variant == 2:
        return {"predictor": aid % 14, "subtract_green": aid % 2 == 0}
    if variant == 3:
        return {"palette": True}
    if variant == 4:
        return {"meta_groups": 2, "predictor": (aid // 5) % 14}
    return {}


def synth_webp_lz_assets(
    spark: SparkSession, n: int = 192, partitions: int = 8
) -> DataFrame:
    """Deterministic WebP-lossless assets that EXERCISE the RFC 9649
    backward-reference + color-cache machinery (unlike
    synth_webp_assets, whose payloads are literal-coded): a base tile
    of h0 = aid%7+2 rows of digest-cycled pixels is repeated
    r = aid%3+2 times vertically, so the greedy LZ77 encoder emits
    dist = h0*width backrefs — neighborhood distance codes when
    h0*width <= 8+7*width, the dist+120 literal form beyond it — and
    cache_bits = aid%11+1 sweeps every legal color-cache size, and
    aid%5 sweeps the transform surface: plain LZ, subtract-green,
    predictor mode aid%14 (optionally stacked on subtract-green),
    color-indexing with pixel bundling (every digest tile has <= 56
    distinct colors), and a 2-group meta-huffman with a predictor —
    together the features virtually every real cwebp output carries.
    The decoded image's mean equals the BASE tile's mean (each base
    pixel appears exactly r times), so the digest-arithmetic DuckDB
    oracle convention still applies without parsing VP8L."""

    def encode(aid: int):
        w, h0, r, ch = aid % 5 + 3, aid % 7 + 2, aid % 3 + 2, (3, 4)[aid % 2]
        payload = webp.encode(
            np.tile(_digest_raster(aid, h0, w, ch), (r, 1, 1)),
            backrefs=True,
            cache_bits=aid % 11 + 1,
            **_WEBP_LZ_VARIANTS(aid),
        )
        return "image", payload, (w, h0 * r, None, None, "webp")

    return _encoded_assets(spark, n, partitions, encode)


def synth_png_depth_assets(
    spark: SparkSession, n: int = 192, partitions: int = 8
) -> DataFrame:
    """Deterministic PNG assets across the NON-8-bit sample grid:
    depth cycles 1/2/4/16 per asset_id%4.
    16-bit assets take big-endian digest byte PAIRS as uint16 samples
    over gray/RGB/RGBA (asset_id%3); packed 1/2/4-bit assets take
    digest bytes mod 2^depth as single-channel gray samples, packed
    MSB-first. Every fifth asset is Adam7-interlaced so the packed and
    16-bit scanline math is exercised per-pass, not just sequentially.
    The decoded mean stays digest-arithmetic for the DuckDB oracle."""

    def encode(aid: int):
        w, h, depth = aid % 6 + 2, aid % 4 + 2, (1, 2, 4, 16)[aid % 4]
        if depth == 16:
            ch = (1, 3, 4)[aid % 3]
            raw = np.frombuffer(
                _digest_cycle(aid, w * h * ch * 2), np.uint8
            ).astype(np.uint16)
            px = ((raw[0::2] << 8) | raw[1::2]).reshape(h, w, ch)
        else:
            px = (_digest_raster(aid, h, w, 1) % (1 << depth)).astype(np.uint8)
        payload = png.encode(
            px, interlace=aid % 5 == 0, depth=depth
        )
        return "image", payload, (w, h, None, None, "png")

    return _encoded_assets(spark, n, partitions, encode)


def synth_wav_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-WAV asset table: each payload is a valid
    RIFF/WAVE 16-bit PCM file whose sample bytes cycle the 16 md5
    digest bytes of the asset id (little-endian int16 pairs) — same
    no-RNG convention as synth_png_assets, so a DuckDB oracle
    re-derives the decoded amplitude stats without parsing WAV. Frame
    count and channel count vary per asset so chunk walking and
    block-align handling are exercised, not a fixed offset."""

    def encode(aid: int):
        frames, ch = aid % 50 + 10, aid % 2 + 1
        samples = np.frombuffer(_digest_cycle(aid, frames * ch * 2), "<i2")
        return (
            "audio",
            wav.encode(samples, ch),
            (frames, ch, 16000, frames * 1000 // 16000, "wav"),
        )

    return _encoded_assets(spark, n, partitions, encode)


def synth_adpcm_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL IMA-ADPCM WAV asset table (format 0x11, the
    classic 4:1 compressed telephony/game-audio format): per-block
    state (int16 predictor, step index) and the 4-bit code stream all
    derive from md5(f"{asset_id}|{block}") — predictor = signed LE
    bytes 0:2, index = byte 2 % 89, nibble j = half of byte
    (3 + j // 2) % 16 (low nibble first). The oracle replays the FULL
    quantizer state machine from the same digest arithmetic with a
    recursive CTE, so a green row certifies every predictor update,
    step-ladder move and clamp across every sample."""

    def encode(aid: int):
        n_nib = 2 * (aid % 5 + 3)
        blocks = []
        for b in range(aid % 3 + 1):
            hb = _digest(f"{aid}|{b}")
            nibs = [
                (hb[(3 + j // 2) % 16] >> (4 * (j % 2))) & 0xF
                for j in range(n_nib)
            ]
            pred = int.from_bytes(hb[0:2], "little", signed=True)
            blocks.append((pred, hb[2] % 89, nibs))
        payload = wav.encode_adpcm(blocks)
        return "audio", payload, (None, None, 8000, None, "wav")

    return _encoded_assets(spark, n, partitions, encode)


def synth_aiff_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-AIFF asset table: big-endian 16-bit PCM whose
    sample WORDS cycle the md5 digest bytes as (hi, lo) pairs — the
    byte-order mirror of synth_wav_assets, so a decoder that read the
    samples little-endian produces different amplitudes and fails the
    oracle. Exercises the FORM/COMM/SSND chunk walk and the 80-bit
    extended sample-rate parse."""

    def encode(aid: int):
        frames, ch = aid % 50 + 10, aid % 2 + 1
        samples = np.frombuffer(_digest_cycle(aid, frames * ch * 2), ">i2")
        return (
            "audio",
            aiff.encode(samples, ch),
            (frames, ch, 16000, frames * 1000 // 16000, "aiff"),
        )

    return _encoded_assets(spark, n, partitions, encode)


def synth_mulaw_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL mu-law WAV asset table (G.711, audio format
    7): the raw 8-bit mu-law stream cycles the 16 md5 digest bytes, so
    the decoded PCM is the canonical ulaw2linear table applied to the
    digest — pure integer arithmetic a DuckDB oracle replays. Frame and
    channel counts vary per asset (odd frame counts exercise the RIFF
    even-pad path)."""

    def encode(aid: int):
        frames, ch = aid % 49 + 10, aid % 2 + 1
        return (
            "audio",
            wav.encode_mulaw(_digest_cycle(aid, frames * ch), ch),
            (frames, ch, 8000, frames * 1000 // 8000, "wav"),
        )

    return _encoded_assets(spark, n, partitions, encode)


_FLAC_STEREO_MODES = ("independent", "left_side", "right_side", "mid_side")


def synth_flac_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-FLAC asset table. Sample values follow the
    synth_wav_assets md5-cycle convention (little-endian int16 pairs of
    the digest), so the SAME arithmetic oracle certifies the decoded
    PCM — except constant assets (asset_id % 7 == 0) whose samples all
    equal the digest's first int16, exercising the constant subframe.
    Structural variety per asset: mono/stereo, all four stereo channel
    assignments (independent / left-side / right-side / mid-side),
    block sizes 8/16/32 with partial final blocks, forced-verbatim and
    forced-escape residuals, and rice partition order 1 — every
    subframe/residual path of the encoder round-trips through the
    decoder, whose CRC-8/CRC-16/MD5 gates make a silently-wrong decode
    impossible."""

    def encode(aid: int):
        frames, ch = aid % 50 + 10, aid % 2 + 1
        samples = np.frombuffer(_digest_cycle(aid, frames * ch * 2), "<i2")
        if aid % 7 == 0:
            samples = np.full(frames * ch, samples[0], dtype=np.int16)
        payload = flac.encode(
            samples,
            ch,
            block_size=8 << (aid % 3),
            stereo_mode=_FLAC_STEREO_MODES[(aid // 2) % 4 if ch == 2 else 0],
            force_verbatim=aid % 11 == 3,
            partition_order=1 if aid % 5 == 0 else 0,
            force_escape=aid % 13 == 5,
        )
        return "audio", payload, (frames, ch, 16000, frames * 1000 // 16000, "flac")

    return _encoded_assets(spark, n, partitions, encode)


def _y4m_shape(i):
    """(w, h, frames) of Y4M asset ``i`` — even dims (4:2:0 requires
    them). Evaluated on the int id inside the encode stage and on the
    id Column in y4m_dims, so the two share one formula."""
    return (i % 3 + 1) * 2, (i % 2 + 1) * 2, i % 5 + 2


def y4m_dims(
    spark: SparkSession, n: int = 128, partitions: int = 8
) -> DataFrame:
    """(asset_id, w, h) for the synthetic Y4M corpus, derived from the
    generation arithmetic alone. Column pruning cannot reach through
    mapInPandas, so selecting meta.width off synth_y4m_assets would
    re-run the whole encode stage — this projection costs nothing."""
    w, h, _nf = _y4m_shape(F.col("id"))
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("asset_id"),
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
    )


def synth_y4m_assets(
    spark: SparkSession, n: int = 128, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-Y4M asset table: each payload is a valid
    YUV4MPEG2 stream (plain-text header, FRAME-delimited raw 4:2:0
    planes at 10 fps) whose plane bytes cycle the 16 md5 digest bytes
    of the asset id CONTINUOUSLY across frames — so a DuckDB oracle can
    re-derive any frame's luma-plane mean positionally. Even dims (4:2:0
    requires them) and frame counts vary per asset, exercising the real
    stream walk, not a fixed offset."""

    def encode(aid: int):
        w, h, nf = _y4m_shape(aid)
        fsz = w * h * 3 // 2
        data = _digest_cycle(aid, nf * fsz)
        payload = y4m.encode(
            [data[k * fsz : (k + 1) * fsz] for k in range(nf)], w, h
        )
        return "video", payload, (w, h, None, nf * 100, "y4m")

    return _encoded_assets(spark, n, partitions, encode)


def synth_jpeg_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-JPEG asset table: each payload is a valid
    baseline sequential JPEG (marker segments, DHT-carried canonical
    Huffman tables, all-ones quant tables) built from CONSTANT 8x8
    blocks whose Y/Cb/Cr values cycle the 16 md5 digest bytes of the
    asset id. Constant blocks + unit quantization make the lossy
    format exactly round-trippable: every block is DC-only, the DC
    coefficient 8*(v-128) quantizes and IDCTs back to v bit-for-bit,
    so a DuckDB oracle re-derives the decoded statistics (including
    the fixed-point YCbCr->RGB arithmetic) without parsing JPEG at
    all. Mode varies per asset (gray / YCbCr 4:4:4 / YCbCr 4:2:0 via
    asset_id % 3) so each subsampling path is separately certified.

    Value convention (replayed positionally by the oracle):
      * luma block j (MCU scan order; within a 4:2:0 MCU the 4 luma
        blocks are raster-ordered): Y = d[j % 16]
      * MCU m chroma: Cb = d[(3m+5) % 16], Cr = d[(3m+11) % 16]
    where d = md5(asset_id) digest bytes. MCU grid is
    (id//3) % 3 + 1 wide by (id//9) % 2 + 1 tall."""

    def encode(aid: int):
        mode, mw, mh = aid % 3, (aid // 3) % 3 + 1, (aid // 9) % 2 + 1
        d = _digest(aid)
        y, cb, cr = _ycc_planes(d, mh, mw)
        # every 4th asset carries restart markers (DRI + RSTn every 2
        # MCUs): the decoder's restart path is certified by the same
        # oracle rows — decoded stats are identical with or without
        # restarts
        dri = 2 if aid % 4 == 3 else 0
        if mode == 2:  # 4:2:0 — 4 raster-ordered luma blocks/MCU
            y = _block_plane(
                [
                    d[(4 * ((r // 2) * mw + c // 2) + 2 * (r % 2) + c % 2) % 16]
                    for r in range(2 * mh)
                    for c in range(2 * mw)
                ],
                2 * mh,
                2 * mw,
            )
        if mode == 0:  # grayscale
            payload = jpeg.encode(y, restart_interval=dri)
        else:
            payload = jpeg.encode(
                y, cb, cr,
                subsampling="420" if mode == 2 else "444",
                restart_interval=dri,
            )
        h, w = y.shape
        return "image", payload, (w, h, None, None, "jpeg")

    return _encoded_assets(spark, n, partitions, encode)


def synth_progressive_jpeg_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL progressive-JPEG asset table (SOF2, the
    standard web scan script: interleaved DC first + DC refine, then
    per-component AC first + AC refine with EOBn runs). Same
    constant-block md5 value convention as synth_jpeg_assets' 4:4:4
    modes — Y block j = d[j % 16], block-m chroma Cb = d[(3m+5) % 16],
    Cr = d[(3m+11) % 16] — so the oracle re-derives decoded statistics
    with the same arithmetic; mode alternates gray / YCbCr 4:4:4 via
    asset_id % 2, grid is (id//2) % 3 + 1 by (id//6) % 2 + 1 blocks."""

    def encode(aid: int):
        mw, mh = (aid // 2) % 3 + 1, (aid // 6) % 2 + 1
        y, cb, cr = _ycc_planes(_digest(aid), mh, mw)
        if aid % 2 == 0:  # grayscale
            payload = jpeg.encode_progressive(y)
        else:  # 4:4:4
            payload = jpeg.encode_progressive(y, cb, cr)
        return "image", payload, (8 * mw, 8 * mh, None, None, "jpeg")

    return _encoded_assets(spark, n, partitions, encode)


def synth_avi_assets(
    spark: SparkSession, n: int = 192, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL MJPEG-AVI asset table: each payload is a
    RIFF/AVI container (hdrl + movi + idx1) whose 00dc chunks are valid
    baseline JPEGs from the exact-decode synth convention — constant
    8x8 blocks + unit quant tables, 4:4:4 — built on the PER-FRAME
    digest md5(asset_id * 131 + f): frame f's block m has
    Y = d[m % 16], Cb = d[(3m+5) % 16], Cr = d[(3m+11) % 16]. A DuckDB
    oracle therefore re-derives every decoded RGB value of every frame
    positionally; the Spark side has to walk the container, verify the
    idx1 index, and Huffman-decode each frame to reach the same sums.
    MCU grid (asset_id % 3 + 1) x ((asset_id // 3) % 2 + 1), frame
    count asset_id % 6 + 2, 10 fps."""

    def encode(aid: int):
        mw, mh, nf = aid % 3 + 1, (aid // 3) % 2 + 1, aid % 6 + 2
        frames = [
            jpeg.encode(
                *_ycc_planes(_digest(aid * 131 + f), mh, mw), subsampling="444"
            )
            for f in range(nf)
        ]
        w, h = 8 * mw, 8 * mh
        return (
            "video",
            avi.encode(frames, w, h, fps=10),
            (w, h, None, nf * 100, "avi"),
        )

    return _encoded_assets(spark, n, partitions, encode)


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ms", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("rgb_sum", T.LongType(), False),
        T.StructField("mean_rgb", T.DoubleType(), False),
    ]
)


def avi_frame_stats(assets: DataFrame) -> DataFrame:
    """Per-frame decoded statistics for MJPEG-AVI payloads: one row per
    frame with the exact integer RGB sum (the position-weightable
    order certificate) and the mean. Container walk + per-frame JPEG
    decode run in one Arrow stage with PixmapCodec; only scalar stats
    leave it."""

    def stats(aid: int, payload: bytes):
        w, h, fps, frames = avi.decode_frames(payload)
        for idx, px in enumerate(frames):
            s = int(px.astype(np.int64).sum())
            yield aid, idx, idx * 1000 // fps, w, h, s, s / px.size

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), AVI_FRAME_SCHEMA, stats
    )


_GIF_PALETTE = np.array(
    [[(7 * i) % 256, (11 * i) % 256, (13 * i) % 256] for i in range(256)],
    np.uint8,
)


def synth_gif_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-GIF asset table: each payload is a valid
    single-frame GIF89a (global color table, real LZW-compressed index
    stream, every third asset INTERLACED) whose pixel index at raster
    position j is digest byte d[j % 16] and whose palette entry i is
    ((7i) % 256, (11i) % 256, (13i) % 256) — pure arithmetic, so a
    DuckDB oracle re-derives every decoded RGB value positionally
    without parsing GIF. Interlacing permutes the rows ON DISK but the
    decoded raster is identical, so a decoder that skipped the 4-pass
    reassembly produces the same MEAN yet fails any position-weighted
    statistic — the query checks one."""

    def encode(aid: int):
        w, h = aid % 6 + 2, aid % 4 + 2
        payload = gif.encode(
            np.frombuffer(_digest_cycle(aid, w * h), np.uint8).reshape(h, w),
            _GIF_PALETTE,
            interlace=aid % 3 == 2,
        )
        return "image", payload, (w, h, None, None, "gif")

    return _encoded_assets(spark, n, partitions, encode)


def synth_bmp_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-BMP asset table: each payload is a valid
    24-bit uncompressed BMP (BITMAPINFOHEADER) whose DECODED raster
    byte at position j is digest byte d[j % 16]. BMP stores rows
    BOTTOM-UP with 4-byte padding, so the on-disk layout is a row
    reversal + re-stride of the decoded raster — a decoder that forgot
    the flip reproduces every mean (row permutation) but fails the
    position-weighted checksum the query carries."""

    def encode(aid: int):
        w, h = aid % 6 + 2, aid % 4 + 2
        payload = netpbm.encode_bmp(_digest_raster(aid, h, w, 3))
        return "image", payload, (w, h, None, None, "bmp")

    return _encoded_assets(spark, n, partitions, encode)


def synth_tiff_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Deterministic REAL-TIFF asset table: each payload is a valid
    baseline TIFF whose chunky raster bytes cycle the 16 md5 digest
    bytes of the asset id. STRUCTURE varies per asset so the decoder
    walks real variety — gray vs RGB (id % 2), uncompressed vs real
    PackBits (id % 3 == 0), little- vs big-endian (id % 5 == 0 is MM),
    and 1..3 rows per strip (multi-strip assembly) — while the DECODED
    raster stays the same pure positional function of the digest, so
    one DuckDB oracle covers every structural combination. Strip
    misordering is a row permutation a mean can't see; the query
    checks the position-weighted checksum."""

    def encode(aid: int):
        w, h, ch = aid % 6 + 2, aid % 4 + 2, 3 if aid % 2 == 0 else 1
        payload = tiff.encode(
            _digest_raster(aid, h, w, ch),
            byte_order="MM" if aid % 5 == 0 else "II",
            packbits=aid % 3 == 0,
            rows_per_strip=aid % 3 + 1,
        )
        return "image", payload, (w, h, None, None, "tiff")

    return _encoded_assets(spark, n, partitions, encode)


# Composition spec for the mixed-modality corpus: (format label,
# generator, id offset, assets per format). SINGLE SOURCE OF TRUTH for
# both synth_mixed_assets and mixed_asset_census(): growing this list
# (WEBP, +7000) without a census signal leaves bench.py's append-only
# median stale forever, because a mapInPandas plan manifest does not
# change when its generator grows.
# gen_bench_baseline.py folds the census into its rebaseline key, so
# ANY edit here (format added/removed, per-format n changed) resets the
# affected medians with the census diff as the recorded justification.
_MIXED_ASSET_SPEC: tuple[tuple[str, object, int, int], ...] = (
    ("png", synth_png_assets, 0, 64),
    ("jpeg", synth_jpeg_assets, 1000, 64),
    ("wav", synth_wav_assets, 2000, 64),
    ("y4m", synth_y4m_assets, 3000, 64),
    ("tiff", synth_tiff_assets, 4000, 64),
    ("flac", synth_flac_assets, 5000, 64),
    ("avi", synth_avi_assets, 6000, 64),
    ("webp", synth_webp_assets, 7000, 64),
)


def mixed_asset_census() -> dict[str, int]:
    """Per-format asset counts of synth_mixed_assets' output — the
    data-growth signal gen_bench_baseline.py keys its rebaseline on."""
    return {fmt: n for fmt, _gen, _off, n in _MIXED_ASSET_SPEC}


def synth_mixed_assets(spark: SparkSession) -> DataFrame:
    """Mixed-modality corpus: one asset table carrying REAL PNG, JPEG,
    WAV, Y4M, TIFF, FLAC, MJPEG-AVI and WebP-lossless payloads side by
    side — the shape a real crawl table arrives in. Asset ids are
    offset per modality (_MIXED_ASSET_SPEC: PNG +0, JPEG +1000, WAV
    +2000, Y4M +3000, TIFF +4000, FLAC +5000, AVI +6000, WEBP +7000 —
    each generator's id space is its own, so every payload equals the
    single-modality generator's output for id % 1000 and the oracles'
    positional re-derivations carry over unchanged). Consumed by ONE
    decode stage whose codec dispatches on payload magic bytes per row —
    per-type dispatch inside a single Arrow mapInPandas pass, not a
    per-type job."""
    parts = [
        gen(spark, n=n, partitions=4).withColumn(
            "asset_id", F.col("asset_id") + offset
        )
        if offset
        else gen(spark, n=n, partitions=4)
        for _fmt, gen, offset, n in _MIXED_ASSET_SPEC
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@runtime_checkable
class Codec(Protocol):
    """Pluggable codec seam: the ONLY piece of this module that is
    stubbed. A real media stack (PIL / libav / cv2) drops in by
    implementing these three methods — none of the Spark plumbing
    (schemas, mapInPandas stages, partitioning, batch shapes) changes.
    Implementations must be picklable (they ship inside the Arrow UDF
    closure to executors) and deterministic per payload.

    ``is_real`` distinguishes an actual decoder from the deterministic
    stub; pipeline stages called with ``require_codec=True`` refuse to
    run on a non-real codec instead of silently emitting fake values.
    """

    is_real: bool

    def decode(self, payload: bytes, media_type: str) -> tuple[int, int, float]:
        """payload → (width, height, mean_intensity)."""
        ...

    def resize(
        self, payload: bytes, target_width: int, target_height: int
    ) -> bytes:
        """payload → resized payload bytes for the target dimensions."""
        ...

    def frames(
        self, payload: bytes, duration_ms: int, every_ms: int
    ) -> list[tuple[int, int, bytes]]:
        """video payload → [(frame_idx, frame_ms, frame_payload)]."""
        ...


class StubCodec:
    """Deterministic fake codec (no media libraries in this container):
    pseudo-dimensions and intensity derived from payload bytes, byte
    striding for resize, payload slicing for frame sampling. Stable
    across runs/executors — the multimodal queries are oracle-checked
    against this exact arithmetic."""

    is_real = False

    def decode(self, payload: bytes, media_type: str) -> tuple[int, int, float]:
        del media_type
        digest = hashlib.sha256(payload).digest()
        width = int.from_bytes(digest[0:2], "big") % 2048 + 1
        height = int.from_bytes(digest[2:4], "big") % 2048 + 1
        mean_intensity = float(np.frombuffer(payload, dtype=np.uint8).mean())
        return width, height, mean_intensity

    def resize(
        self, payload: bytes, target_width: int, target_height: int
    ) -> bytes:
        # fake resample: keep every k-th byte so output size tracks the
        # target area the way a real thumbnail would
        target_len = max(
            min(len(payload), (target_width * target_height) // 256), 1
        )
        step = max(len(payload) // target_len, 1)
        return payload[::step]

    def frames(
        self, payload: bytes, duration_ms: int, every_ms: int
    ) -> list[tuple[int, int, bytes]]:
        n_frames = max(int(duration_ms or 0) // every_ms, 1)
        step = max(len(payload) // n_frames, 1)
        return [
            (i, i * every_ms, payload[i * step : (i + 1) * step])
            for i in range(n_frames)
        ]


DEFAULT_CODEC: Codec = StubCodec()


def _check_codec(
    codec: Codec | None, require_codec: bool, needs: str | None = None
) -> Codec:
    """The codec a stage runs (DEFAULT_CODEC when none is given), refusing
    the stub under require_codec and any codec without the ``needs``
    method (``pixels`` or ``pcm``) the stage calls."""
    codec = codec if codec is not None else DEFAULT_CODEC
    if require_codec and not codec.is_real:
        raise NotImplementedError(
            "real image/audio/video codecs are not available in this "
            "environment; pass a Codec implementation with is_real=True "
            "or run with require_codec=False for the deterministic stub"
        )
    if needs is not None and not hasattr(codec, needs):
        raise NotImplementedError(
            f"this stage needs a codec exposing {needs}(payload); the "
            "deterministic stub has none"
        )
    return codec


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("decoded_width", T.IntegerType(), True),
        T.StructField("decoded_height", T.IntegerType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("payload_bytes", T.LongType(), False),
    ]
)


DECODED_Q_SCHEMA = T.StructType(
    [*DECODED_SCHEMA.fields, T.StructField("decode_ok", T.BooleanType(), False)]
)


DECODED_PHASH_SCHEMA = T.StructType(
    [
        *DECODED_Q_SCHEMA.fields,
        T.StructField("ch", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

def _avg_hash(px: "np.ndarray") -> int:
    """Cross-multiplied average-hash over a decoded raster — the single
    implementation perceptual_hashes and the fused stage both call, so
    the two paths cannot drift (bit j set iff gray(j) * n > sum(gray),
    first min(n, 63) row-major pixels, no division, no floats)."""
    gray = px.sum(axis=2).reshape(-1)
    n = gray.shape[0]
    s = int(gray.sum())
    bits = gray[: min(n, PHASH_MAX_BITS)] * n > s
    phash = 0
    for j, b in enumerate(bits):
        if b:
            phash |= 1 << j
    return phash


def decode_assets_with_phash(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Fused decode + perceptual-hash stage (quarantine semantics):
    ONE Arrow pass that rasterizes each payload ONCE and emits both the
    decode stats (identical values to decode_assets — raster stats are
    the same shape/mean the decode() raster branch computes from the
    same pixels) and, for rasters, the average-hash perceptual_hashes
    would compute (same _avg_hash implementation, bit-identical).

    This is the scale seam for decode->dedup pipelines: the unfused
    composition (decode_assets + perceptual_hashes + a semi-join to
    restrict hashing to decodable rows) parses every image payload
    TWICE and shuffles ids in between; at 100 TB the codec pass IS the
    dominant cost, so fusing halves it and drops the join. Non-raster
    rows (audio/video) fall back to codec.decode with NULL hash fields;
    corrupt rows quarantine with identity + decode_ok=False."""
    codec = _check_codec(codec, require_codec, needs="pixels")

    def decode(aid: int, mt: str, raw: bytes):
        try:
            # magic-byte dispatch, not try/fallback: a CORRUPT raster
            # quarantines from its own parse, not a second one
            if is_raster(raw):
                px = codec.pixels(raw).astype(np.int64)
                h_, w_, ch = px.shape
                # same value decode()'s raster branch returns: mean of
                # exact small ints in float64
                yield (aid, mt, w_, h_, float(px.mean()), len(raw), True,
                       ch, w_ * h_, _avg_hash(px))
            else:
                w, h, mi = codec.decode(raw, mt)
                yield aid, mt, w, h, mi, len(raw), True, None, None, None
        except Exception:
            yield aid, mt, None, None, None, len(raw), False, None, None, None

    return rowmap.map_rows(
        assets.select("asset_id", "media_type", "payload"),
        DECODED_PHASH_SCHEMA,
        decode,
    )


def decode_assets(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Arrow-batched decode stage. Batch shape: payloads arrive as a
    pandas Series of bytes per partition chunk — exactly how a real
    PIL/libav decode loop would consume them. The codec is the pluggable
    seam (Codec protocol); everything else is production plumbing.

    on_error: "raise" (default) propagates decode failures — the right
    mode for synthesized-by-us tables where a failure is a codec bug.
    "quarantine" is the crawl-ingest mode (corrupt bytes are the NORM in
    fetched corpora): failed rows keep their identity with NULL decoded
    stats and decode_ok=False instead of killing the job — the same
    row-level quarantine contract as the gzip-JSONL reader. Adds a
    decode_ok column (DECODED_Q_SCHEMA)."""
    codec = _check_codec(codec, require_codec)
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine: {on_error!r}")
    quarantine = on_error == "quarantine"

    def decode(aid: int, mt: str, raw: bytes):
        try:
            w, h, mi = codec.decode(raw, mt)
        except Exception:
            if not quarantine:
                raise
            # corrupt/truncated/unsupported payload: the row survives
            # with its identity so the pipeline can count and route it;
            # stats stay NULL
            yield aid, mt, None, None, None, len(raw), False
            return
        row = (aid, mt, w, h, mi, len(raw))
        yield (*row, True) if quarantine else row

    return rowmap.map_rows(
        assets.select("asset_id", "media_type", "payload"),
        DECODED_Q_SCHEMA if quarantine else DECODED_SCHEMA,
        decode,
    )


CHANNEL_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("channel", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("mean_value", T.DoubleType(), False),
    ]
)


def channel_stats(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Per-channel pixel statistics: one row per (asset, channel) with
    that channel's mean sample value — the signal that catches
    channel-INTERLEAVE decode bugs an overall mean hides (swap R and B
    in a decoder and decode_assets' mean_intensity never notices;
    this stage does). Arrow mapInPandas over the same batch shape as
    decode_assets; needs a pixels-capable codec (PixmapCodec — the
    stub has no pixel planes to report)."""
    codec = _check_codec(codec, require_codec, needs="pixels")

    def stats(aid: int, payload: bytes):
        px = codec.pixels(payload)
        ch = px.shape[2]
        for k in range(ch):
            yield aid, k, ch, float(px[:, :, k].mean())

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), CHANNEL_SCHEMA, stats
    )


PW_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("pw_sum", T.LongType(), False),
        T.StructField("mean_value", T.DoubleType(), False),
    ]
)


def position_weighted_stats(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Position-weighted decode statistics: per asset,
    pw_sum = sum over raster positions j of (j+1) * (sum of channel
    values at j) — an exact-integer checksum that is sensitive to WHERE
    every pixel landed, unlike a mean (any row/pixel permutation leaves
    the mean untouched). This is the check that catches de-interlacing
    and row-ordering bugs (GIF 4-pass interlace, BMP bottom-up rows)
    that every average-based statistic is provably blind to. Same Arrow
    batch shape as channel_stats; needs a pixels-capable codec."""
    codec = _check_codec(codec, require_codec, needs="pixels")

    def stats(aid: int, payload: bytes):
        px = codec.pixels(payload)
        flat = px.reshape(-1, px.shape[2]).astype(np.int64).sum(1)
        pw = int(((np.arange(len(flat), dtype=np.int64) + 1) * flat).sum())
        yield aid, len(flat), pw, float(px.mean())

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), PW_SCHEMA, stats
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def extract_features(assets: DataFrame, dim: int = 64) -> DataFrame:
    """STUB feature extractor producing a deterministic `array<float>`
    embedding per asset (byte-histogram projection) — the output column is
    directly consumable by operators/similarity.py. Real plumbing, fake
    features.

    The features are RAW bin counts (integer-valued, exactly
    representable in float32): cosine similarity is scale-invariant, so
    normalization adds nothing downstream — and skipping it keeps every
    dot product / norm an exact integer sum, which is what lets a SQL
    oracle replay the similarity search bit-for-bit
    (queries/multimodal.multimodal_feature_search)."""

    def extract(aid: int, payload: bytes):
        arr = np.frombuffer(payload, dtype=np.uint8)
        yield aid, np.bincount(arr % dim, minlength=dim).astype(np.float32)

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), FEATURE_SCHEMA, extract
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), False),
    ]
)


def sample_frames(
    assets: DataFrame,
    every_ms: int = 5000,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Frame sampler for video assets: one frame per `every_ms` of
    duration via the pluggable codec (stub: payload slice stands in for
    the decoded frame). UDTF shape: one asset row → many frame rows."""
    codec = _check_codec(codec, require_codec)

    def sample(aid: int, payload: bytes, dur):
        for idx, ms, frame in codec.frames(payload, int(dur or 0), every_ms):
            yield aid, idx, ms, frame

    return rowmap.map_rows(
        assets.where(F.col("media_type") == "video").select(
            "asset_id", "payload", F.col("meta.duration_ms")
        ),
        FRAME_SCHEMA,
        sample,
    )


LUMA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.IntegerType(), False),
        T.StructField("luma_mean", T.DoubleType(), False),
    ]
)


def frame_luma_stats(frames: DataFrame, dims: DataFrame) -> DataFrame:
    """Per-frame luma (Y-plane) mean over sampled raw 4:2:0 frames —
    the brightness/scene-change signal a video curation filter
    thresholds on. ``dims`` carries (asset_id, w, h) so the stage can
    slice the Y plane (first w*h bytes of each frame payload); the join
    is frame-count-sized and the Arrow stage is map-only after it."""

    def luma(aid: int, idx: int, ms: int, payload: bytes, w: int, h: int):
        y = np.frombuffer(payload[: int(w) * int(h)], dtype=np.uint8)
        yield aid, idx, ms, float(y.mean())

    return rowmap.map_rows(
        frames.join(dims, "asset_id").select(
            "asset_id", "frame_idx", "frame_ms", "frame_payload", "w", "h"
        ),
        LUMA_SCHEMA,
        luma,
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("target_width", T.IntegerType(), False),
        T.StructField("target_height", T.IntegerType(), False),
        T.StructField("scale_x", T.DoubleType(), True),
        T.StructField("scale_y", T.DoubleType(), True),
        T.StructField("resized_payload", T.BinaryType(), False),
        T.StructField("resized_bytes", T.LongType(), False),
    ]
)


def resize_assets(
    assets: DataFrame,
    target_width: int = 224,
    target_height: int = 224,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Resize stage for image/video assets: emits the target dimensions,
    the scale factors vs the source metadata, and the codec's resized
    payload (stub: byte stride stands in for pixel resampling).
    Arrow-batched mapInPandas, one output row per asset: the real
    plumbing a thumbnailing / model-input-prep pass uses."""
    codec = _check_codec(codec, require_codec)

    def resize(aid: int, mt: str, payload: bytes, w, h):
        resized = codec.resize(payload, target_width, target_height)
        sx = float(target_width) / float(w) if w else None
        sy = float(target_height) / float(h) if h else None
        yield (aid, mt, target_width, target_height, sx, sy, resized,
               len(resized))

    return rowmap.map_rows(
        assets.where(F.col("media_type").isin("image", "video")).select(
            "asset_id", "media_type", "payload", "meta.width", "meta.height"
        ),
        RESIZED_SCHEMA,
        resize,
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup: the missing modality in the dedup
# layer (text has MinHash/SimHash/spans, embeddings have SemDeDup; images
# had nothing). Bit-per-pixel average-hash over DECODED rasters, exact
# integer arithmetic end to end so the DuckDB oracle re-derives every
# hash from the synth conventions without decoding a single PNG.

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("ch", T.IntegerType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

PHASH_MAX_BITS = 63  # signed-int64 lattice: bits beyond 63 are dropped


# -- Audio fingerprinting (Haitsma-Kalker-style robust hash) ------------
# Public technique ("A Highly Robust Audio Fingerprint System", Philips
# 2002): frame the PCM, compute per-frame band energies, and take the
# SIGN of the time-delta of the band-delta as each fingerprint bit.
# This implementation keeps everything on the int64 lattice (band
# energy = sum of squared int16 samples over a fixed slice; strict > 0
# sign test) so the fingerprint is bit-reproducible in any engine —
# the same cross-engine-exactness discipline as the phash/kmeans
# lattices. 9 frames x 9 bands of 2 samples each = a 162-sample
# analysis window yielding 8x8 delta bits, truncated to 63 for the
# signed-int64 hash; banding/verification reuse the phash pigeonhole.
_AFP_FRAMES = 9
_AFP_BANDS = 9
_AFP_BAND_SAMPLES = 2
AFP_WINDOW = _AFP_FRAMES * _AFP_BANDS * _AFP_BAND_SAMPLES  # 162

AFP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("afp", T.LongType(), False),
    ]
)


def audio_fingerprint(samples: "np.ndarray") -> int:
    """63-bit integer-exact robust hash of the first AFP_WINDOW mono
    samples: E[t][b] = sum of squares over the band slice; bit
    (t-1)*8+b set iff (E[t][b]-E[t-1][b]) - (E[t][b+1]-E[t-1][b+1])
    is strictly positive."""
    s = np.asarray(samples, dtype=np.int64)[:AFP_WINDOW]
    if len(s) < AFP_WINDOW:
        raise ValueError(
            f"audio fingerprint needs >= {AFP_WINDOW} samples, "
            f"got {len(s)}"
        )
    e = (s.reshape(_AFP_FRAMES, _AFP_BANDS, _AFP_BAND_SAMPLES) ** 2).sum(
        axis=2
    )
    d = e[1:] - e[:-1]            # [8, 9] frame deltas
    diff = d[:, :-1] - d[:, 1:]   # [8, 8] band-delta of frame-delta
    fp = 0
    for j, bit in enumerate((diff > 0).reshape(-1)[:PHASH_MAX_BITS]):
        if bit:
            fp |= 1 << j
    return fp


def audio_fingerprints(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Per-asset audio fingerprint over the decoded channel-0 PCM —
    Arrow mapInPandas over the same batch shape as decode_assets; the
    codec must expose pcm(payload)."""
    codec = _check_codec(codec, require_codec, needs="pcm")

    def fingerprint(aid: int, payload: bytes):
        s = codec.pcm(payload)
        yield aid, len(s), audio_fingerprint(s)

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), AFP_SCHEMA, fingerprint
    )


def synth_afp_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """Audio asset table with PLANTED duplicate structure (the audio
    twin of synth_phash_assets): asset_id % 4 == 3 reuses asset_id-3's
    content key (sample stream derives from the KEY), and the
    % 8 == 7 half of those additionally replaces two band slices of
    frame 0 (samples 0-1 -> +30000, 4-5 -> -30000) — a planted
    NEAR-duplicate: only E[0][0] and E[0][2] move, so only delta bits
    (t=1, b=0..2) can flip and the fingerprint sits 0-3 bits away,
    always inside the <= 4 gate (the 0 case is the robustness working
    as designed). Unrelated assets carry full-entropy streams (one md5
    per 16-byte block) and sit ~31 bits apart. Container: every fifth
    asset encodes AIFF instead of WAV — both are lossless int16 PCM,
    so planted pairs that straddle the boundary certify the dedup gate
    CROSS-CONTAINER (the same recording exported as .wav by one
    pipeline and .aiff by another must still collapse)."""

    def encode(aid: int):
        key = aid - 3 if aid % 4 == 3 else aid
        n_samp = AFP_WINDOW + (key % 3) * 18
        samples = np.frombuffer(_block_stream(key, n_samp * 2), "<i2").copy()
        if aid % 8 == 7:
            samples[0] = samples[1] = 30000
            samples[4] = samples[5] = -30000
        if aid % 5 == 2:
            payload, fmt = aiff.encode(samples, 1), "aiff"
        else:
            payload, fmt = wav.encode(samples, 1), "wav"
        return "audio", payload, (n_samp, 1, 16000, n_samp * 1000 // 16000, fmt)

    return _encoded_assets(spark, n, partitions, encode)


def synth_phash_assets(
    spark: SparkSession, n: int = 256, partitions: int = 8
) -> DataFrame:
    """PNG/WebP asset table with PLANTED duplicate structure: every
    asset_id % 4 == 3 reuses asset_id-3's content key (dims AND pixels
    derive from the KEY, so duplicates are true rasters-equal pairs),
    and the % 8 == 7 half of those additionally bumps pixel (0,0,0) by
    +16 mod 256 — a planted NEAR-duplicate whose hash differs in a few
    bits. Dims are 6-11 x 6-9 (>= 36 pixels) so unrelated assets sit
    ~N/2 hamming apart and can never masquerade as near-dups.

    Container alternates: odd asset ids with RGB/RGBA rasters encode as
    WebP-lossless, the rest as PNG (VP8L has no grayscale). Since the
    dup key offset (3) is odd, every planted pair spans BOTH containers
    when its raster is non-gray — the dedup gate is certified
    cross-format, the realistic shape (the same image saved as .png by
    one site and .webp by another must still collapse)."""

    def encode(aid: int):
        key = aid - 3 if aid % 4 == 3 else aid
        w, h, ch = key % 6 + 6, key % 4 + 6, (1, 3, 4)[key % 3]
        px = np.frombuffer(_block_stream(key, w * h * ch), np.uint8)
        px = px.reshape(h, w, ch).copy()
        if aid % 8 == 7:
            px[0, 0, 0] = (int(px[0, 0, 0]) + 16) % 256
        if ch != 1 and aid % 2 == 1:
            payload, fmt = webp.encode(px), "webp"
        else:
            payload, fmt = png.encode(px), "png"
        return "image", payload, (w, h, None, None, fmt)

    return _encoded_assets(spark, n, partitions, encode)


def perceptual_hashes(
    assets: DataFrame,
    require_codec: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Average-hash per asset over the decoded raster: gray(p) = integer
    sum of the pixel's channels; bit j (row-major pixel j, first
    min(n_pixels, 63) pixels) is set iff gray(j) * n_pixels > sum(gray)
    — the mean threshold CROSS-MULTIPLIED so there is no division and
    no float anywhere; the hash is bit-reproducible in any engine.
    Arrow mapInPandas over the same batch shape as decode_assets."""
    codec = _check_codec(codec, require_codec, needs="pixels")

    def phash(aid: int, payload: bytes):
        px = codec.pixels(payload).astype(np.int64)
        h_, w_, ch = px.shape
        yield aid, w_, h_, ch, w_ * h_, _avg_hash(px)

    return rowmap.map_rows(
        assets.select("asset_id", "payload"), PHASH_SCHEMA, phash
    )
