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
- `PixmapCodec` — a REAL pure-python decoder (and for several formats
  encoder) for the container's full format census: PPM/PGM, BMP, PNG
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
        payload = PixmapCodec._encode_png(
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
        payload = PixmapCodec._encode_webp(_digest_raster(aid, h, w, ch))
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
        payload = PixmapCodec._encode_webp(
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
        payload = PixmapCodec._encode_png(
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
            PixmapCodec._encode_wav(samples, ch),
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
        payload = PixmapCodec._encode_wav_adpcm(blocks)
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
            PixmapCodec._encode_aiff(samples, ch),
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
            PixmapCodec._encode_wav_mulaw(_digest_cycle(aid, frames * ch), ch),
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
        payload = PixmapCodec._encode_flac(
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
        header = f"YUV4MPEG2 W{w} H{h} F10:1 Ip A1:1 C420\n".encode()
        payload = header + b"".join(
            b"FRAME\n" + data[k * fsz : (k + 1) * fsz] for k in range(nf)
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
            payload = PixmapCodec._encode_jpeg(y, restart_interval=dri)
        else:
            payload = PixmapCodec._encode_jpeg(
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
            payload = PixmapCodec._encode_jpeg_progressive(y)
        else:  # 4:4:4
            payload = PixmapCodec._encode_jpeg_progressive(y, cb, cr)
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
            PixmapCodec._encode_jpeg(
                *_ycc_planes(_digest(aid * 131 + f), mh, mw), subsampling="444"
            )
            for f in range(nf)
        ]
        w, h = 8 * mw, 8 * mh
        return (
            "video",
            PixmapCodec._encode_avi(frames, w, h, fps=10),
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
        w, h, fps, jpegs = PixmapCodec._parse_avi(payload)
        for idx, j in enumerate(jpegs):
            fw, fh, px = PixmapCodec._parse_jpeg(j)
            if (fw, fh) != (w, h):
                raise ValueError("AVI frame dims disagree with header")
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
        payload = PixmapCodec._encode_gif(
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
        payload = PixmapCodec._encode_bmp(_digest_raster(aid, h, w, 3))
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
        payload = PixmapCodec._encode_tiff(
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


class _MsbBitWriter:
    """MSB-first bit packer (FLAC's bit order: the most significant bit
    of each value lands in the most significant free bit of the output
    byte stream)."""

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits <= 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self._out.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits followed by a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self._nbits:
            self.write(0, 8 - self._nbits)

    def getvalue(self) -> bytes:
        if self._nbits:
            raise ValueError("bit writer not byte-aligned")
        return bytes(self._out)


class _MsbBitReader:
    """MSB-first bit reader over a bytes buffer; every out-of-data read
    raises ValueError so truncated payloads fail loudly."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._data = data
        self._byte = pos
        self._bit = 0

    def read(self, nbits: int) -> int:
        v = 0
        while nbits > 0:
            if self._byte >= len(self._data):
                raise ValueError("truncated FLAC bitstream")
            avail = 8 - self._bit
            take = avail if avail < nbits else nbits
            cur = self._data[self._byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self._bit += take
            nbits -= take
            if self._bit == 8:
                self._bit = 0
                self._byte += 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if nbits and v >> (nbits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway unary code in FLAC bitstream")
        return q

    def align(self) -> None:
        if self._bit:
            self._bit = 0
            self._byte += 1

    @property
    def byte_pos(self) -> int:
        return self._byte

    @property
    def aligned(self) -> bool:
        return self._bit == 0


class _LsbBitWriter:
    """LSB-first bit packer (VP8L's bit order: values fill each output
    byte from its least significant bit upward — the opposite of FLAC's
    MSB packing above)."""

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc |= (value & ((1 << nbits) - 1)) << self._n
        self._n += nbits
        while self._n >= 8:
            self._out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def getvalue(self) -> bytes:
        out = bytes(self._out)
        if self._n:
            out += bytes([self._acc & 0xFF])
        return out


class _LsbBitReader:
    """LSB-first bit reader; out-of-data reads raise ValueError."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # absolute bit position

    def read(self, nbits: int) -> int:
        v = 0
        for i in range(nbits):
            byte = self._pos >> 3
            if byte >= len(self._data):
                raise ValueError("truncated VP8L bitstream")
            v |= ((self._data[byte] >> (self._pos & 7)) & 1) << i
            self._pos += 1
        return v


def _limited_huffman_lengths(
    freqs: dict[int, int], max_len: int
) -> dict[int, int]:
    """Length-limited Huffman code lengths via boundary package-merge —
    optimal under the max_len constraint, deterministic (ties broken by
    symbol id). Returns {symbol: length} for every symbol in freqs."""
    items = sorted((f, s) for s, f in freqs.items())
    if not items:
        return {}
    if len(items) == 1:
        return {items[0][1]: 1}
    if len(items) > (1 << max_len):
        raise ValueError("alphabet too large for the length limit")
    prev: list[tuple[int, tuple[int, ...]]] = []
    for _level in range(max_len):
        cur = [(f, (s,)) for f, s in items]
        for i in range(0, len(prev) - 1, 2):
            cur.append(
                (prev[i][0] + prev[i + 1][0], prev[i][1] + prev[i + 1][1])
            )
        prev = sorted(cur)
    lengths = {s: 0 for _, s in items}
    for _f, syms in prev[: 2 * (len(items) - 1)]:
        for s in syms:
            lengths[s] += 1
    assert sum(2 ** -l for l in lengths.values()) == 1.0, "kraft violated"
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """DEFLATE-style canonical code assignment: symbols sorted by
    (length, symbol id), codes count upward with left-shifts at each
    length increase. Returns {symbol: (code, length)} — code bits are
    MSB-first (reverse before writing through an LSB-first packer)."""
    ordered = sorted((l, s) for s, l in lengths.items() if l > 0)
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for l, s in ordered:
        code <<= l - prev_len
        prev_len = l
        codes[s] = (code, l)
        code += 1
    return codes


def _reverse_bits(value: int, nbits: int) -> int:
    out = 0
    for _ in range(nbits):
        out = (out << 1) | (value & 1)
        value >>= 1
    return out


def _huff_decode_table(
    lengths: dict[int, int]
) -> tuple[dict[tuple[int, int], int], int]:
    """(len, code)->symbol lookup + max length, for bit-serial canonical
    decoding (code accumulates MSB-first as bits arrive)."""
    codes = _canonical_codes(lengths)
    table = {(l, c): s for s, (c, l) in codes.items()}
    max_len = max((l for _s, (_c, l) in codes.items()), default=0)
    return table, max_len


def _read_huff_symbol(
    br: _LsbBitReader, table: dict[tuple[int, int], int], max_len: int
) -> int:
    if max_len == 0:  # trivial single-symbol code: zero bits per symbol
        return table[(0, 0)]
    code = 0
    for l in range(1, max_len + 1):
        code = (code << 1) | br.read(1)
        if (l, code) in table:
            return table[(l, code)]
    raise ValueError("invalid VP8L huffman code")


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


class PixmapCodec:
    """REAL pure-python/numpy codec for public raster and video-stream
    formats — no external media libraries needed:

      * PPM (P6) / PGM (P5): netpbm binary images (header + raw samples)
      * BMP: BITMAPINFOHEADER, 24-bit uncompressed, bottom-up rows
      * PNG: 8-bit gray / gray+alpha / RGB / RGBA, non-interlaced —
        stdlib-zlib IDAT inflate plus all five scanline filters
        (None/Sub/Up/Average/Paeth); the first MAINSTREAM compressed
        format a real corpus contains
      * JPEG: baseline sequential DCT (ITU-T T.81) — marker walk,
        DHT-carried Huffman tables, dequantize, de-zigzag, float
        separable IDCT, chroma upsampling (4:4:4 / 4:2:0 / 4:2:2),
        restart markers, and a FIXED-POINT integer YCbCr→RGB
        (libjpeg-style 16.16 constants) so decoded RGB is exact
        integer arithmetic a SQL oracle can replay; the #1 format of
        any real multimodal corpus
      * WAV (RIFF PCM, 16-bit): chunk-walked fmt/data parse — the
        audio modality's real decoder (decode reports frames-per-
        channel as width, channels as height, mean |sample| as
        intensity — the amplitude signal an audio curation filter
        thresholds on)
      * Y4M (YUV4MPEG2): ffmpeg's uncompressed video stream (plain-text
        stream header, FRAME-delimited raw 4:2:0 planes) — frames()

    decode() parses actual pixels; resize() is true nearest-neighbor
    resampling re-encoded in the source format. Anything else raises
    ValueError — this codec never fakes a result, which is what makes
    ``is_real`` honest."""

    is_real = True

    _PNG_SIG = b"\x89PNG\r\n\x1a\n"
    # color type -> samples per pixel (palette type 3 unsupported)
    _PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

    # -- PNG helpers -----------------------------------------------------
    @classmethod
    def _parse_png(cls, payload: bytes):
        """(width, height, pixel_array[h, w, channels]) for 8-bit
        gray/gray-alpha/RGB/RGBA PNGs, progressive (Adam7 interlace)
        or not. Inflates the IDAT stream with stdlib zlib and
        reverses the per-scanline filter (types 0-4) — per Adam7 PASS
        when interlaced, since each pass is its own filtered sub-image
        whose rows predict only from that pass. Sub reverses as a
        vectorized per-lane prefix sum mod 256; Average/Paeth are
        inherently sequential along the row (each byte needs the
        RECONSTRUCTED left neighbor) and run a per-byte loop — fine for
        the thumbnail-scale assets this seam processes; a production
        deployment would swap in a compiled decoder behind the same
        Codec protocol."""
        import struct
        import zlib

        if payload[:8] != cls._PNG_SIG:
            raise ValueError("not a PNG payload")
        pos = 8
        ihdr = None
        idat = bytearray()
        plte = None
        trns = None
        while pos + 8 <= len(payload):
            length, ctype = struct.unpack_from(">I4s", payload, pos)
            data = payload[pos + 8 : pos + 8 + length]
            # the +4 covers the CRC word: a payload cut inside it must
            # raise the contract ValueError, not struct.error
            if len(data) != length or pos + 12 + length > len(payload):
                raise ValueError("truncated PNG chunk")
            if struct.unpack_from(">I", payload, pos + 8 + length)[0] != (
                zlib.crc32(ctype + data) & 0xFFFFFFFF
            ):
                raise ValueError(f"PNG chunk CRC mismatch ({ctype!r})")
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"PLTE":
                if length % 3 or not 3 <= length <= 768:
                    raise ValueError("malformed PNG PLTE chunk")
                plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif ctype == b"tRNS":
                trns = np.frombuffer(data, np.uint8)
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or not idat:
            raise ValueError("PNG missing IHDR or IDAT")
        w, h, depth, color, comp, filt, interlace = ihdr
        # legal depth set per color type (PNG spec 11.2.2): packed
        # depths for gray + palette, 16-bit for every non-palette type
        allowed = {
            0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
            4: (8, 16), 6: (8, 16),
        }
        if color not in allowed or depth not in allowed[color]:
            raise ValueError(
                f"unsupported PNG depth/color combination ({depth}/{color})"
            )
        if comp != 0 or filt != 0:
            raise ValueError("unsupported PNG compression/filter method")
        if color == 3:
            # indexed color: the filtered stream is the 1-byte index
            # plane; pixels materialize through PLTE (+ per-entry tRNS
            # alpha when present) after reassembly
            if plte is None:
                raise ValueError("palette PNG missing PLTE chunk")
            if trns is not None and len(trns) > len(plte):
                raise ValueError("PNG tRNS longer than palette")
            ch = 1
        else:
            ch = cls._PNG_CHANNELS[color]
        # filtering operates on scanline BYTES with a left offset of
        # bytes-per-pixel, rounded up to 1 for packed depths (spec 9.2)
        bpp = max(1, ch * depth // 8)
        raw = zlib.decompress(bytes(idat))
        if interlace == 1:  # Adam7: seven independently-filtered passes
            out = np.zeros(
                (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
            )
            pos = 0
            for xs, ys, xstep, ystep in cls._ADAM7:
                pw = (w - xs + xstep - 1) // xstep
                ph = (h - ys + ystep - 1) // ystep
                if pw <= 0 or ph <= 0:
                    continue  # empty pass for tiny images — no bytes
                stride = (pw * ch * depth + 7) // 8
                need = ph * (stride + 1)
                sub = cls._png_defilter(
                    raw[pos : pos + need], stride, ph, bpp
                )
                pos += need
                out[ys::ystep, xs::xstep] = cls._png_rows_to_samples(
                    sub, pw, ch, depth
                )
            if pos != len(raw):
                raise ValueError("PNG IDAT size mismatch")
        elif interlace == 0:
            stride = (w * ch * depth + 7) // 8
            out = cls._png_rows_to_samples(
                cls._png_defilter(raw, stride, h, bpp), w, ch, depth
            )
        else:
            raise ValueError("unsupported PNG interlace method")
        if color == 3:
            idx = out.reshape(h, w)
            if int(idx.max(initial=0)) >= len(plte):
                raise ValueError("PNG palette index out of range")
            rgb = plte[idx]
            if trns is None:
                return w, h, rgb
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = trns
            return w, h, np.dstack([rgb, alpha[idx]])
        return w, h, out

    # Adam7 pass table: (xstart, ystart, xstep, ystep) in spec order
    # (PNG spec 8.2 / libpng png_pass_start constants)
    _ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    @staticmethod
    def _png_rows_to_samples(
        recon: "np.ndarray", w: int, ch: int, depth: int
    ) -> "np.ndarray":
        """Defiltered scanline bytes recon[h, stride] -> samples
        [h, w, ch]: uint8 at depths <= 8 (packed depths unpack
        MSB-first per spec 7.2), uint16 big-endian pairs at 16."""
        h = recon.shape[0]
        if depth == 8:
            return recon.reshape(h, w, ch)
        if depth == 16:
            b = recon.reshape(h, w * ch, 2).astype(np.uint16)
            return ((b[:, :, 0] << 8) | b[:, :, 1]).reshape(h, w, ch)
        # packed 1/2/4-bit: always single-channel (gray or palette idx)
        bits = np.unpackbits(recon, axis=1)[:, : w * depth]
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        return (
            (bits.reshape(h, w, depth) * weights).sum(axis=2)
            .astype(np.uint8).reshape(h, w, 1)
        )

    @staticmethod
    def _png_samples_to_rows(px: "np.ndarray", depth: int) -> "np.ndarray":
        """Encoder-side inverse of _png_rows_to_samples: samples
        [h, w, ch] -> int32 scanline-byte rows [h, stride] ready for
        _png_filter_rows."""
        h, w, ch = px.shape
        if depth == 8:
            return px.reshape(h, w * ch).astype(np.int32)
        if depth == 16:
            v = px.astype(np.uint32).reshape(h, w * ch)
            rows = np.zeros((h, w * ch * 2), np.int32)
            rows[:, 0::2] = v >> 8
            rows[:, 1::2] = v & 0xFF
            return rows
        bits = (
            (px.reshape(h, w, 1).astype(np.uint8)
             >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(h, w * depth).astype(np.uint8)
        pad = -bits.shape[1] % 8
        if pad:
            bits = np.concatenate(
                [bits, np.zeros((h, pad), np.uint8)], axis=1
            )
        return np.packbits(bits, axis=1).astype(np.int32)

    @classmethod
    def _png_defilter(cls, raw: bytes, stride: int, h: int, ch: int):
        """Reverse the per-scanline filters over one filtered image (or
        one Adam7 pass — each pass filters against its OWN rows only).
        ``stride`` is bytes per scanline, ``ch`` the filter's left
        offset in BYTES (bytes-per-pixel, min 1 for packed depths);
        returns recon[h, stride] uint8."""
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG IDAT size mismatch")
        recon = np.zeros((h, stride), dtype=np.uint8)
        for r in range(h):
            f = raw[r * (stride + 1)]
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride,
                offset=r * (stride + 1) + 1,
            )
            prev = recon[r - 1] if r else np.zeros(stride, dtype=np.uint8)
            if f == 0:
                recon[r] = line
            elif f == 1:  # Sub: per-lane prefix sum mod 256
                lanes = line.reshape(-1, ch).astype(np.uint32)
                recon[r] = (
                    np.cumsum(lanes, axis=0) % 256
                ).astype(np.uint8).reshape(stride)
            elif f == 2:  # Up
                recon[r] = line + prev  # uint8 wraps mod 256
            elif f == 3:  # Average — sequential (needs reconstructed left)
                cur = recon[r]
                pv = prev.astype(np.int32)
                ln = line.astype(np.int32)
                for x in range(stride):
                    a = int(cur[x - ch]) if x >= ch else 0
                    cur[x] = (ln[x] + ((a + pv[x]) >> 1)) & 0xFF
            elif f == 4:  # Paeth — sequential
                cur = recon[r]
                pv = prev.astype(np.int32)
                ln = line.astype(np.int32)
                for x in range(stride):
                    a = int(cur[x - ch]) if x >= ch else 0
                    b = int(pv[x])
                    c = int(pv[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                    cur[x] = (ln[x] + pr) & 0xFF
            else:
                raise ValueError(f"unknown PNG filter type {f}")
        return recon

    @classmethod
    def _png_filter_rows(cls, flat: np.ndarray, ch: int) -> bytearray:
        """Filter one image (or one Adam7 pass) given flat[h, w*ch]
        int32 rows. The filter type CYCLES per scanline (row r uses
        filter r % 5) so a round-trip through _parse_png exercises
        every filter's inverse, not just the trivial one —
        encoder-side filtering works on the ORIGINAL bytes, so all
        five are vectorized."""
        h, stride = flat.shape
        zero = np.zeros(stride, dtype=np.int32)
        out = bytearray()
        for r in range(h):
            raw = flat[r]
            prev = flat[r - 1] if r else zero
            left = np.concatenate([np.zeros(ch, np.int32), raw[:-ch]])
            upleft = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            f = r % 5
            if f == 0:
                filt = raw
            elif f == 1:
                filt = raw - left
            elif f == 2:
                filt = raw - prev
            elif f == 3:
                filt = raw - ((left + prev) >> 1)
            else:  # Paeth predictor, vectorized
                p = left + prev - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - prev)
                pc = np.abs(p - upleft)
                pr = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, upleft),
                )
                filt = raw - pr
            out.append(f)
            out.extend((filt & 0xFF).astype(np.uint8).tobytes())
        return out

    @classmethod
    def _encode_png(
        cls,
        px: np.ndarray,
        interlace: bool = False,
        palette: bool = False,
        depth: int = 8,
    ) -> bytes:
        """Encode [h, w, channels] pixels as a valid PNG — sequential,
        or progressive (Adam7) with each of the seven passes
        gathered by the spec strides and filtered as its own sub-image
        (matching how every real encoder lays passes out and how
        _parse_png reverses them). palette=True writes indexed
        color (type 3): RGB input emits PLTE + a filtered index plane;
        RGBA input additionally emits per-entry tRNS alphas (distinct
        colors must fit 256 entries — ValueError otherwise, like any
        real quantizer-less palette writer). depth extends the
        sample grid: 16 takes uint16 samples as big-endian pairs for
        any non-palette color type; 1/2/4 pack gray samples or palette
        indices MSB-first per spec 7.2."""
        import struct
        import zlib

        if px.ndim == 2:
            px = px[:, :, None]
        h, w, ch = px.shape
        extra: list[tuple[bytes, bytes]] = []
        if palette:
            if ch not in (3, 4):
                raise ValueError("palette PNG needs RGB or RGBA input")
            if depth not in (1, 2, 4, 8):
                raise ValueError("palette PNG depth must be 1/2/4/8")
            colors, idx = np.unique(
                px.reshape(-1, ch), axis=0, return_inverse=True
            )
            if len(colors) > min(256, 1 << depth):
                raise ValueError(
                    f"palette PNG at depth {depth} limited to "
                    f"{min(256, 1 << depth)} colors, got {len(colors)}"
                )
            extra.append((b"PLTE", colors[:, :3].astype(np.uint8).tobytes()))
            if ch == 4:
                extra.append(
                    (b"tRNS", colors[:, 3].astype(np.uint8).tobytes())
                )
            px = idx.astype(np.uint8).reshape(h, w, 1)
            ch = 1
            color = 3
        else:
            color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
            if depth in (1, 2, 4):
                if ch != 1:
                    raise ValueError(
                        "packed PNG depths are gray/palette only"
                    )
                if int(px.max(initial=0)) >= 1 << depth:
                    raise ValueError(
                        f"sample out of range for depth {depth}"
                    )
            elif depth not in (8, 16):
                raise ValueError(f"unsupported PNG depth {depth}")
        bpp = max(1, ch * depth // 8)
        if interlace:
            out = bytearray()
            for xs, ys, xstep, ystep in cls._ADAM7:
                sub = px[ys::ystep, xs::xstep]
                ph, pw = sub.shape[:2]
                if ph <= 0 or pw <= 0:
                    continue
                out.extend(
                    cls._png_filter_rows(
                        cls._png_samples_to_rows(sub, depth), bpp
                    )
                )
        else:
            out = cls._png_filter_rows(
                cls._png_samples_to_rows(px, depth), bpp
            )

        def chunk(ctype: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(
            ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0
        )
        return (
            cls._PNG_SIG
            + chunk(b"IHDR", ihdr)
            + b"".join(chunk(t, d) for t, d in extra)
            + chunk(b"IDAT", zlib.compress(bytes(out), 6))
            + chunk(b"IEND", b"")
        )

    # -- WebP-lossless (VP8L) ---------------------------------------------
    # Public format: RIFF/WEBP container, VP8L chunk, LSB-first
    # bitstream, canonical length-limited Huffman codes per ARGB channel
    # (WebP Lossless Bitstream Specification, RFC 9649). The decoder
    # handles the COMPLETE spec surface: the prefix-code machinery
    # (simple codes, the 19-symbol code-length code and its 16/17/18
    # repeat operators), LZ77 backward references (length/distance
    # prefix values + the 120-entry 2-D neighborhood distance-code
    # map), the 0x1e35a7bd color cache, all four transforms (predictor
    # 0..13, color, subtract-green, color-indexing with pixel
    # bundling) and the meta-huffman prefix-code groups. The encoder
    # emits literal-coded pixels by default (legal to omit everything
    # optional); the opt-in keywords produce streams exercising every
    # decode path so fixtures certify it end-to-end.

    # code-length symbols appear in this fixed spec order
    _VP8L_CL_ORDER = (
        17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
    )
    # alphabet sizes: green+length (no cache), red, blue, alpha, distance
    _VP8L_ALPHABETS = (256 + 24, 256, 256, 256, 40)

    # RFC 9649 plane-to-code lut: index = dy*16 + 8 + dx for the
    # referenced pixel at (current_x + dx, current_y - dy), dx in
    # [-8, 7], dy in [0, 7]; value = distance_code - 1, 255 = no short
    # code. Validated a permutation of 0..119 by _vp8l_dist_table().
    _VP8L_DIST_LUT = (
        96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255,
        255, 101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
        102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
        105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
        110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83,
        100, 115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77,
        95, 109, 118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81,
        93, 104, 114, 119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85,
        89, 98, 107, 112, 117,
    )
    _vp8l_dist_cache: tuple | None = None

    @classmethod
    def _vp8l_dist_table(cls) -> tuple:
        """distance_code (1..120) -> (xoffset, yoffset): the referenced
        pixel sits xoffset + yoffset*width scan-order positions back.
        Built by inverting _VP8L_DIST_LUT; fail-loud permutation check."""
        if cls._vp8l_dist_cache is None:
            vals = [v for v in cls._VP8L_DIST_LUT if v != 255]
            if sorted(vals) != list(range(120)):
                raise AssertionError("VP8L distance lut is corrupt")
            table: list = [None] * 121
            for idx, v in enumerate(cls._VP8L_DIST_LUT):
                if v == 255:
                    continue
                dy, dx = divmod(idx, 16)
                table[v + 1] = (-(dx - 8), dy)
            cls._vp8l_dist_cache = tuple(table)
        return cls._vp8l_dist_cache

    @staticmethod
    def _vp8l_prefix_read(sym: int, br: "_LsbBitReader") -> int:
        """Length/distance prefix-coded value (RFC 9649 §4.2.2): the
        symbol selects a power-of-two bucket, extra bits refine it."""
        if sym < 4:
            return sym + 1
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        return offset + br.read(extra) + 1

    @staticmethod
    def _vp8l_prefix_split(value: int) -> tuple[int, int, int]:
        """Inverse of _vp8l_prefix_read: value -> (symbol, extra_value,
        extra_bits)."""
        if value < 1:
            raise ValueError("prefix values start at 1")
        if value <= 4:
            return value - 1, 0, 0
        v = value - 1
        extra = v.bit_length() - 2
        sym = 2 * extra + ((v >> extra) & 1)
        return sym + 2, v - ((2 + ((v >> extra) & 1)) << extra), extra

    @staticmethod
    def _vp8l_cache_key(r: int, g: int, b: int, a: int, bits: int) -> int:
        """Color-cache slot (RFC 9649 §4.2.3): multiplicative hash of
        the packed ARGB word."""
        argb = ((a << 24) | (r << 16) | (g << 8) | b) & 0xFFFFFFFF
        return ((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - bits)

    @staticmethod
    def _vp8l_bundle_bits(palette_size: int) -> int:
        """Pixel-bundling width_bits for a color-indexing transform
        (RFC 9649 §3.5): small palettes pack several indices per coded
        pixel, shrinking the coded image width by 2^width_bits."""
        if palette_size <= 2:
            return 3
        if palette_size <= 4:
            return 2
        if palette_size <= 16:
            return 1
        return 0

    @staticmethod
    def _vp8l_predict(mode: int, buf, i: int, w: int) -> tuple:
        """RFC 9649 §4.1.1 spatial predictors 0..13 for the pixel at
        scan index i, given already-reconstructed pixels in ``buf``
        (indexable -> 4-int sequences). Only called off the first
        row/column, so L/T/TL always exist; TR at the right edge wraps
        into the current row's first pixel via flat scan-order
        addressing — exactly the contiguous-rows addressing the spec
        defines."""
        L = buf[i - 1]
        T = buf[i - w]
        if mode == 1:
            return tuple(L)
        if mode == 2:
            return tuple(T)
        if mode == 0:
            return (0, 0, 0, 255)
        TL = buf[i - w - 1]
        TR = buf[i - w + 1]

        def avg2(a, b):
            return tuple((int(a[k]) + int(b[k])) >> 1 for k in range(4))

        if mode == 3:
            return tuple(TR)
        if mode == 4:
            return tuple(TL)
        if mode == 5:
            return avg2(avg2(L, TR), T)
        if mode == 6:
            return avg2(L, TL)
        if mode == 7:
            return avg2(L, T)
        if mode == 8:
            return avg2(TL, T)
        if mode == 9:
            return avg2(T, TR)
        if mode == 10:
            return avg2(avg2(L, TL), avg2(T, TR))
        if mode == 11:  # Select: whichever of T/L is closer to TL-plane
            pa_minus_pb = sum(
                abs(int(L[k]) - int(TL[k])) - abs(int(T[k]) - int(TL[k]))
                for k in range(4)
            )
            return tuple(T) if pa_minus_pb <= 0 else tuple(L)
        if mode == 12:  # ClampAddSubtractFull
            return tuple(
                min(255, max(0, int(L[k]) + int(T[k]) - int(TL[k])))
                for k in range(4)
            )
        if mode == 13:  # ClampAddSubtractHalf (C-truncating half step)
            out = []
            for k in range(4):
                ave = (int(L[k]) + int(T[k])) >> 1
                d = ave - int(TL[k])
                half = d // 2 if d >= 0 else -((-d) // 2)
                out.append(min(255, max(0, ave + half)))
            return tuple(out)
        raise ValueError(f"invalid VP8L predictor mode {mode}")

    @classmethod
    def _write_vp8l_code(
        cls, bw: "_LsbBitWriter", freqs: dict[int, int], alphabet_size: int
    ) -> dict[int, tuple[int, int]]:
        """Write one prefix code; return {symbol: (code_msb_first, len)}
        for the emit loop. <=2 distinct symbols use the simple-code form
        (positional codes 0/1); otherwise canonical lengths go through
        the code-length code, literal-only (use_length=0 means the
        reader consumes one code-length entry per ALPHABET slot, so the
        zero tail past the last used symbol is written explicitly)."""
        syms = sorted(freqs)
        # the simple form stores symbols in 1 or 8 bits, so it cannot
        # carry length/cache symbols (>= 256) from the green alphabet
        if len(syms) <= 2 and syms[-1] <= 255:
            bw.write(1, 1)  # simple
            bw.write(len(syms) - 1, 1)
            first = syms[0]
            if first <= 1:
                bw.write(0, 1)
                bw.write(first, 1)
            else:
                bw.write(1, 1)
                bw.write(first, 8)
            if len(syms) == 2:
                bw.write(syms[1], 8)
                return {syms[0]: (0, 1), syms[1]: (1, 1)}
            return {syms[0]: (0, 0)}
        bw.write(0, 1)  # normal
        lengths = _limited_huffman_lengths(freqs, 15)
        per_symbol = [lengths.get(s, 0) for s in range(alphabet_size)]
        cl_freqs: dict[int, int] = {}
        for l in per_symbol:
            cl_freqs[l] = cl_freqs.get(l, 0) + 1
        cl_lengths = _limited_huffman_lengths(cl_freqs, 7)
        bw.write(len(cls._VP8L_CL_ORDER) - 4, 4)  # num_code_lengths = 19
        for sym in cls._VP8L_CL_ORDER:
            bw.write(cl_lengths.get(sym, 0), 3)
        bw.write(0, 1)  # use_length = 0
        cl_codes = _canonical_codes(cl_lengths)
        for l in per_symbol:
            code, n = cl_codes[l]
            bw.write(_reverse_bits(code, n), n)
        return _canonical_codes(lengths)

    @classmethod
    def _encode_webp(
        cls,
        px: "np.ndarray",
        *,
        cache_bits: int = 0,
        backrefs: bool = False,
        subtract_green: bool = False,
        predictor: "int | None" = None,
        color_cte: "tuple[int, int, int] | None" = None,
        palette: bool = False,
        meta_groups: int = 1,
    ) -> bytes:
        """REAL WebP-lossless bytes for an [h, w, 3|4] uint8 raster.

        Default output is pure literal coding (byte-stable across
        rounds — fixture digests pin it). ``backrefs=True`` switches to
        a greedy LZ77 over left-run (dist 1) and above-run (dist width)
        candidates plus ``cache_bits`` of color cache, exercising the
        decoder's full RFC 9649 path including the 2-D neighborhood
        distance codes; ``subtract_green=True`` additionally codes in
        the subtract-green transform domain; ``predictor=m`` applies
        spatial predictor mode m image-wide; ``color_cte=(g2r, g2b,
        r2b)`` applies a fixed color-transform element;
        ``palette=True`` writes the color-indexing transform with
        pixel bundling; ``meta_groups=2`` splits the prefix codes
        across a meta-huffman tile image — together the features
        virtually every real cwebp output carries."""
        h, w, ch = px.shape
        if ch not in (3, 4) or w > 1 << 14 or h > 1 << 14:
            raise ValueError("VP8L encoder needs RGB/RGBA, dims <= 16384")
        if cache_bits and not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color-cache bits out of range")
        if (
            backrefs or cache_bits or subtract_green or palette
            or predictor is not None or color_cte is not None
            or meta_groups > 1
        ):
            return cls._encode_webp_lz(
                px, cache_bits, backrefs, subtract_green,
                predictor=predictor, color_cte=color_cte,
                palette=palette, meta_groups=meta_groups,
            )
        flat = px.reshape(-1, ch).astype(np.int64)
        reds, greens, blues = flat[:, 0], flat[:, 1], flat[:, 2]
        alphas = (
            flat[:, 3] if ch == 4 else np.full(len(flat), 255, np.int64)
        )
        bw = _LsbBitWriter()
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(1 if ch == 4 else 0, 1)  # alpha hint
        bw.write(0, 3)  # version
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no color cache
        bw.write(0, 1)  # no meta-huffman
        emit = []
        for vals, size in zip(
            (greens, reds, blues, alphas, np.zeros(0, np.int64)),
            cls._VP8L_ALPHABETS,
        ):
            freqs: dict[int, int] = {}
            for v in vals.tolist():
                freqs[v] = freqs.get(v, 0) + 1
            if not freqs:
                freqs = {0: 1}  # unused distance code: 1-symbol simple
            emit.append(cls._write_vp8l_code(bw, freqs, size))
        g_map, r_map, b_map, a_map, _d_map = emit
        for g, r, b, a in zip(
            greens.tolist(), reds.tolist(), blues.tolist(), alphas.tolist()
        ):
            for code, n in (g_map[g], r_map[r], b_map[b], a_map[a]):
                bw.write(_reverse_bits(code, n), n)
        return cls._vp8l_container(bw)

    @staticmethod
    def _vp8l_container(bw: "_LsbBitWriter") -> bytes:
        vp8l = b"\x2f" + bw.getvalue()
        chunk = (
            b"VP8L"
            + len(vp8l).to_bytes(4, "little")
            + vp8l
            + (b"\x00" if len(vp8l) & 1 else b"")
        )
        riff = b"WEBP" + chunk
        return b"RIFF" + len(riff).to_bytes(4, "little") + riff

    @classmethod
    def _encode_webp_lz(
        cls,
        px: "np.ndarray",
        cache_bits: int,
        backrefs: bool,
        subtract_green: bool = False,
        predictor: "int | None" = None,
        color_cte: "tuple[int, int, int] | None" = None,
        palette: bool = False,
        meta_groups: int = 1,
    ) -> bytes:
        """Full-featured VP8L encoder (the fixture-side twin of the
        decoder's RFC 9649 surface). LZ77 match candidates are dist=1
        (horizontal run) and dist=k*width for k in 1..8 — enough to
        exercise length prefix codes, the 2-D neighborhood distance
        codes AND the dist+120 literal form, and cache hits, while
        staying O(n). Transforms apply forward in stream order
        (subtract-green -> color -> predictor -> color-indexing);
        palette mode is exclusive of the pixel-domain transforms, like
        every real encoder. meta_groups=2 writes a parity-tiled
        meta-prefix image with two (identical) code groups so the
        decoder's group-switching path is certified."""
        orig_h, orig_w, ch = px.shape
        h, w = orig_h, orig_w
        n = h * w
        flat = px.reshape(-1, ch).astype(np.int32)
        if ch == 3:
            flat = np.concatenate(
                [flat, np.full((n, 1), 255, np.int32)], axis=1
            )
        if palette and (
            subtract_green or predictor is not None
            or color_cte is not None
        ):
            raise ValueError(
                "color-indexing excludes pixel-domain transforms"
            )
        if meta_groups not in (1, 2):
            raise ValueError("meta_groups must be 1 or 2")

        def s8(v: int) -> int:
            return v - 256 if v >= 128 else v

        chain: list[tuple[str, tuple | None]] = []
        if subtract_green:  # forward: code in the transformed domain
            flat[:, 0] = (flat[:, 0] - flat[:, 1]) & 0xFF
            flat[:, 2] = (flat[:, 2] - flat[:, 1]) & 0xFF
            chain.append(("sg", None))
        if color_cte is not None:
            g2r, g2b, r2b = color_cte
            if not all(-128 <= v <= 127 for v in color_cte):
                raise ValueError("color-transform element out of int8")
            for i in range(n):
                r0, g0, b0 = int(flat[i, 0]), int(flat[i, 1]), int(flat[i, 2])
                flat[i, 0] = (r0 - ((g2r * s8(g0)) >> 5)) & 0xFF
                flat[i, 2] = (
                    b0 - ((g2b * s8(g0)) >> 5) - ((r2b * s8(r0)) >> 5)
                ) & 0xFF
            size_bits = 4
            tw = (w + 15) >> size_bits
            th = (h + 15) >> size_bits
            tile = (r2b & 0xFF, g2b & 0xFF, g2r & 0xFF, 255)
            chain.append(("color", (size_bits, tw, th, [tile] * (tw * th))))
        if predictor is not None:
            if not 0 <= predictor <= 13:
                raise ValueError("predictor mode must be 0..13")
            vals = [tuple(int(v) & 0xFF for v in row) for row in flat]
            res = np.zeros_like(flat)
            for i in range(n):
                y, x = divmod(i, w)
                if i == 0:
                    pr = (0, 0, 0, 255)
                elif y == 0:
                    pr = vals[i - 1]
                elif x == 0:
                    pr = vals[i - w]
                else:
                    pr = cls._vp8l_predict(predictor, vals, i, w)
                for k in range(4):
                    res[i, k] = (vals[i][k] - pr[k]) & 0xFF
            flat = res
            size_bits = 4
            tw = (w + 15) >> size_bits
            th = (h + 15) >> size_bits
            chain.append(
                ("pred", (size_bits, tw, th, [(0, predictor, 0, 255)] * (tw * th)))
            )
        if palette:
            arr = (flat & 0xFF).astype(np.uint8)
            colors, idx = np.unique(arr, axis=0, return_inverse=True)
            if len(colors) > 256:
                raise ValueError(
                    f"palette WebP limited to 256 colors, got {len(colors)}"
                )
            width_bits = cls._vp8l_bundle_bits(len(colors))
            bpp = 8 >> width_bits
            xmask = (1 << width_bits) - 1
            packed_w = (w + (1 << width_bits) - 1) >> width_bits
            packed = np.zeros((packed_w * h, 4), np.int32)
            packed[:, 3] = 255
            for y in range(h):
                for x in range(w):
                    packed[y * packed_w + (x >> width_bits), 1] |= (
                        int(idx[y * w + x]) << (bpp * (x & xmask))
                    )
            dpal = colors.astype(np.int32)
            dpal = np.concatenate(
                [dpal[:1], (dpal[1:] - dpal[:-1]) & 0xFF]
            )  # delta-coded palette entries
            chain.append(
                ("cidx", (len(colors),
                          [tuple(int(v) for v in row) for row in dpal]))
            )
            flat, w, n = packed, packed_w, packed_w * h

        pixels = [tuple(int(v) & 0xFF for v in row) for row in flat]
        cache_size = (1 << cache_bits) if cache_bits else 0
        cache = [(0, 0, 0, 0)] * cache_size
        dist_map = cls._vp8l_dist_table()
        # smallest neighborhood code per scan-order distance (several
        # (x, y) pairs can collapse to one distance at small widths)
        inv: dict[int, int] = {}
        for code in range(1, 121):
            xo, yo = dist_map[code]
            inv.setdefault(max(xo + yo * w, 1), code)
        tokens: list[tuple] = []
        freqs: list[dict[int, int]] = [{} for _ in range(5)]

        def bump(t: int, sym: int) -> None:
            freqs[t][sym] = freqs[t].get(sym, 0) + 1

        i = 0
        while i < n:
            best_len = best_dist = 0
            if backrefs:
                for dist in (1, *(k * w for k in range(1, 9))):
                    if dist < 1 or dist > i:
                        continue
                    ln = 0
                    maxl = min(4096, n - i)
                    while (
                        ln < maxl
                        and pixels[i + ln] == pixels[i + ln - dist]
                    ):
                        ln += 1
                    if ln > best_len:
                        best_len, best_dist = ln, dist
            if best_len >= 3:
                lsym, lxv, lbits = cls._vp8l_prefix_split(best_len)
                dcode = inv.get(best_dist, best_dist + 120)
                dsym, dxv, dbits = cls._vp8l_prefix_split(dcode)
                if dsym >= 40:  # pragma: no cover - needs dist > 2^20
                    raise ValueError("VP8L distance out of alphabet")
                tokens.append(("B", lsym, lxv, lbits, dsym, dxv, dbits))
                bump(0, 256 + lsym)
                bump(4, dsym)
                for _ in range(best_len):
                    if cache_size:
                        p = pixels[i]
                        cache[cls._vp8l_cache_key(*p, cache_bits)] = p
                    i += 1
                continue
            p = pixels[i]
            if cache_size:
                key = cls._vp8l_cache_key(*p, cache_bits)
                if cache[key] == p:
                    tokens.append(("C", key))
                    bump(0, 280 + key)
                    i += 1
                    continue
                cache[key] = p
            tokens.append(("L", p))
            bump(0, p[1])
            bump(1, p[0])
            bump(2, p[2])
            bump(3, p[3])
            i += 1

        bw = _LsbBitWriter()
        bw.write(orig_w - 1, 14)  # header carries the ORIGINAL dims
        bw.write(orig_h - 1, 14)
        bw.write(1 if ch == 4 else 0, 1)  # alpha hint
        bw.write(0, 3)  # version
        for kind, data in chain:  # transform chain, stream order
            bw.write(1, 1)
            if kind == "sg":
                bw.write(2, 2)
            elif kind == "pred":
                bw.write(0, 2)
                size_bits, tw, th, tile_px = data
                bw.write(size_bits - 2, 3)
                cls._vp8l_write_image(bw, tile_px, tw, th)
            elif kind == "color":
                bw.write(1, 2)
                size_bits, tw, th, tile_px = data
                bw.write(size_bits - 2, 3)
                cls._vp8l_write_image(bw, tile_px, tw, th)
            else:  # cidx
                bw.write(3, 2)
                psize, dpal_px = data
                bw.write(psize - 1, 8)
                cls._vp8l_write_image(bw, dpal_px, psize, 1)
        bw.write(0, 1)  # end of transform chain
        if cache_bits:
            bw.write(1, 1)
            bw.write(cache_bits, 4)
        else:
            bw.write(0, 1)
        groups_to_write = 1
        if meta_groups == 2:  # parity-tiled meta-prefix image
            bw.write(1, 1)
            msize = 2  # 4-px tiles: maximal group switching
            bw.write(msize - 2, 3)
            mtw = (w + 3) >> msize
            mth = (h + 3) >> msize
            meta_px = [
                (0, (tx + ty) % 2, 0, 255)
                for ty in range(mth)
                for tx in range(mtw)
            ]
            cls._vp8l_write_image(bw, meta_px, mtw, mth)
            # the decoder derives the group count from the meta image
            # (max id + 1) — a single-tile image collapses to 1 group
            groups_to_write = max(p[1] for p in meta_px) + 1
        else:
            bw.write(0, 1)  # no meta-huffman
        alphabets = (256 + 24 + cache_size,) + cls._VP8L_ALPHABETS[1:]
        for _ in range(groups_to_write):  # identical groups: any tile maps
            emit = []
            for t, size in enumerate(alphabets):
                emit.append(
                    cls._write_vp8l_code(bw, freqs[t] or {0: 1}, size)
                )
        g_map, r_map, b_map, a_map, d_map = emit
        for tok in tokens:
            if tok[0] == "L":
                r, g, b, a = tok[1]
                for code, nb in (g_map[g], r_map[r], b_map[b], a_map[a]):
                    bw.write(_reverse_bits(code, nb), nb)
            elif tok[0] == "B":
                _, lsym, lxv, lbits, dsym, dxv, dbits = tok
                code, nb = g_map[256 + lsym]
                bw.write(_reverse_bits(code, nb), nb)
                if lbits:
                    bw.write(lxv, lbits)
                code, nb = d_map[dsym]
                bw.write(_reverse_bits(code, nb), nb)
                if dbits:
                    bw.write(dxv, dbits)
            else:  # cache hit
                code, nb = g_map[280 + tok[1]]
                bw.write(_reverse_bits(code, nb), nb)
        return cls._vp8l_container(bw)

    @classmethod
    def _vp8l_write_image(
        cls, bw: "_LsbBitWriter", pixels: list, w: int, h: int
    ) -> None:
        """Write one literal-coded sub-image (transform tiles, palette
        entries, the meta-prefix image): no cache, no meta bit — the
        minimal legal spatially-coded image the reader's recursion
        expects."""
        if len(pixels) != w * h:
            raise AssertionError("sub-image pixel count mismatch")
        freqs: list[dict[int, int]] = [{} for _ in range(5)]
        for p in pixels:
            for t, v in ((0, p[1]), (1, p[0]), (2, p[2]), (3, p[3])):
                freqs[t][v] = freqs[t].get(v, 0) + 1
        bw.write(0, 1)  # no color cache
        maps = [
            cls._write_vp8l_code(bw, freqs[t] or {0: 1}, size)
            for t, size in enumerate(cls._VP8L_ALPHABETS)
        ]
        gm, rm, bm, am, _dm = maps
        for p in pixels:
            for code, nb in (gm[p[1]], rm[p[0]], bm[p[2]], am[p[3]]):
                bw.write(_reverse_bits(code, nb), nb)

    @classmethod
    def _read_vp8l_code(
        cls, br: "_LsbBitReader", alphabet_size: int
    ) -> tuple[dict[tuple[int, int], int], int]:
        """Read one prefix code -> bit-serial decode table."""
        if br.read(1):  # simple
            num_symbols = br.read(1) + 1
            first = br.read(8) if br.read(1) else br.read(1)
            if num_symbols == 2:
                second = br.read(8)
                # positional, NOT canonical-by-id: symbols[0] -> 0
                return {(1, 0): first, (1, 1): second}, 1
            return {(0, 0): first}, 0
        num_cl = 4 + br.read(4)
        cl_lengths: dict[int, int] = {}
        for i in range(num_cl):
            l = br.read(3)
            if l:
                cl_lengths[cls._VP8L_CL_ORDER[i]] = l
        cl_table, cl_max = _huff_decode_table(cl_lengths)
        if br.read(1):  # use_length: explicit cap on coded entries
            length_nbits = 2 + 2 * br.read(3)
            max_symbol = 2 + br.read(length_nbits)
        else:
            max_symbol = alphabet_size
        lengths: dict[int, int] = {}
        sym = 0
        prev = 8  # spec default for repeat-previous before any literal
        while sym < alphabet_size and max_symbol > 0:
            max_symbol -= 1
            cl = _read_huff_symbol(br, cl_table, cl_max)
            if cl < 16:
                if cl:
                    lengths[sym] = cl
                    prev = cl
                sym += 1
            elif cl == 16:
                rep = 3 + br.read(2)
                for _ in range(rep):
                    if sym < alphabet_size:
                        lengths[sym] = prev
                    sym += 1
            elif cl == 17:
                sym += 3 + br.read(3)
            else:
                sym += 11 + br.read(7)
        return _huff_decode_table(lengths)

    @classmethod
    def _parse_webp(cls, payload: bytes):
        """(width, height, pixel_array[h, w, 3|4]) from WebP-lossless
        bytes; 3 channels when the header's alpha-hint is clear."""
        if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
            raise ValueError("not a WEBP container")
        pos = 12
        vp8l = None
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if tag == b"VP8L":
                vp8l = payload[pos + 8 : pos + 8 + size]
                break
            if tag in (b"VP8 ", b"VP8X"):
                raise NotImplementedError(
                    "only WebP-lossless (VP8L) is supported by PixmapCodec"
                )
            pos += 8 + size + (size & 1)
        if vp8l is None:
            raise ValueError("no VP8L chunk in WEBP container")
        if vp8l[:1] != b"\x2f":
            raise ValueError("bad VP8L signature byte")
        br = _LsbBitReader(vp8l[1:])
        w = br.read(14) + 1
        h = br.read(14) + 1
        alpha_used = br.read(1)
        if br.read(3):
            raise ValueError("unsupported VP8L version")
        # ordered transform chain (RFC 9649 §3): each type at most
        # once; color-indexing shrinks the CODED width for everything
        # read after it (pixel bundling)
        transforms: list[tuple[int, tuple | None]] = []
        seen: set[int] = set()
        cur_w = w
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform type")
            seen.add(ttype)
            if ttype == 2:  # subtract-green: no payload, self-inverse
                transforms.append((2, None))
            elif ttype in (0, 1):  # predictor / color: tile sub-image
                size_bits = br.read(3) + 2
                tw = (cur_w + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                tiles = cls._vp8l_read_pixels(br, tw, th)
                transforms.append((ttype, (size_bits, tw, tiles)))
            else:  # color-indexing: delta-coded palette + bundling
                psize = br.read(8) + 1
                pal = cls._vp8l_read_pixels(br, psize, 1).astype(np.int64)
                pal = (np.cumsum(pal, axis=0) % 256).astype(np.uint8)
                width_bits = cls._vp8l_bundle_bits(psize)
                transforms.append((3, (pal, width_bits, cur_w)))
                cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
        out = cls._vp8l_read_pixels(br, cur_w, h, allow_meta=True)
        # inverse transforms apply in REVERSE stream order
        for ttype, data in reversed(transforms):
            if ttype == 2:
                out[:, 0] += out[:, 1]  # uint8 wraps mod 256
                out[:, 2] += out[:, 1]
            elif ttype == 0:
                out = cls._vp8l_inv_predictor(out, cur_w, h, *data)
            elif ttype == 1:
                out = cls._vp8l_inv_color(out, cur_w, h, *data)
            else:
                pal, width_bits, full_w = data
                out = cls._vp8l_inv_cidx(
                    out, cur_w, h, pal, width_bits, full_w
                )
                cur_w = full_w
        px = out.reshape(h, w, 4)
        if not alpha_used:
            px = px[:, :, :3]
        return w, h, px

    @classmethod
    def _vp8l_read_pixels(
        cls, br: "_LsbBitReader", w: int, h: int, allow_meta: bool = False
    ) -> "np.ndarray":
        """Decode one spatially-coded image (RFC 9649 §5): color-cache
        info, optional meta-prefix image (main ARGB image only),
        prefix-code group(s), then the literal/LZ77/cache pixel stream.
        Returns uint8 [w*h, 4] RGBA. Transform sub-images and the
        meta image itself recurse through this same path (allow_meta
        False — the spec nests at most one level)."""
        if br.read(1):  # color-cache-info
            cache_bits = br.read(4)
            if not 1 <= cache_bits <= 11:
                raise ValueError("VP8L color-cache bits out of range")
        else:
            cache_bits = 0
        meta_idx = None
        msize = mtw = 0
        num_groups = 1
        if allow_meta and br.read(1):  # meta prefix-code image
            msize = br.read(3) + 2
            mtw = (w + (1 << msize) - 1) >> msize
            mth = (h + (1 << msize) - 1) >> msize
            mpx = cls._vp8l_read_pixels(br, mtw, mth)
            meta_idx = [
                (int(p[0]) << 8) | int(p[1]) for p in mpx
            ]  # group id = red<<8 | green
            num_groups = max(meta_idx) + 1
        cache_size = (1 << cache_bits) if cache_bits else 0
        alphabets = (256 + 24 + cache_size,) + cls._VP8L_ALPHABETS[1:]
        groups = [
            [cls._read_vp8l_code(br, a) for a in alphabets]
            for _ in range(num_groups)
        ]
        dist_map = cls._vp8l_dist_table()
        cache = [(0, 0, 0, 0)] * cache_size
        n = w * h
        out = np.zeros((n, 4), dtype=np.uint8)
        i = 0
        tables = groups[0]
        while i < n:
            if meta_idx is not None:
                y, x = divmod(i, w)
                tables = groups[
                    meta_idx[(y >> msize) * mtw + (x >> msize)]
                ]
            gsym = _read_huff_symbol(br, *tables[0])
            if gsym < 256:
                r = _read_huff_symbol(br, *tables[1])
                b = _read_huff_symbol(br, *tables[2])
                a = _read_huff_symbol(br, *tables[3])
                out[i] = (r, gsym, b, a)
                if cache_size:
                    cache[
                        cls._vp8l_cache_key(r, gsym, b, a, cache_bits)
                    ] = (r, gsym, b, a)
                i += 1
            elif gsym < 280:  # LZ77 backward reference
                length = cls._vp8l_prefix_read(gsym - 256, br)
                dcode = cls._vp8l_prefix_read(
                    _read_huff_symbol(br, *tables[4]), br
                )
                if dcode > 120:
                    dist = dcode - 120
                else:  # 2-D neighborhood map, clamped to >= 1
                    xoff, yoff = dist_map[dcode]
                    dist = max(xoff + yoff * w, 1)
                if dist > i or i + length > n:
                    raise ValueError(
                        "VP8L backward reference out of range"
                    )
                for _ in range(length):  # may self-overlap (run coding)
                    r, g, b, a = (int(v) for v in out[i - dist])
                    out[i] = (r, g, b, a)
                    if cache_size:
                        cache[
                            cls._vp8l_cache_key(r, g, b, a, cache_bits)
                        ] = (r, g, b, a)
                    i += 1
            else:  # color-cache hit
                idx = gsym - 280
                if idx >= cache_size:
                    raise ValueError("color-cache symbol without a cache")
                out[i] = cache[idx]
                i += 1
        return out

    @classmethod
    def _vp8l_inv_predictor(
        cls,
        res: "np.ndarray",
        w: int,
        h: int,
        size_bits: int,
        tw: int,
        tiles: "np.ndarray",
    ) -> "np.ndarray":
        """Inverse predictor transform: reconstruct sequentially —
        predictions read already-reconstructed neighbors. Mode comes
        from the tile image's green channel; the first pixel is
        predicted black, the first row L-predicted, the first column
        T-predicted (spec edge rules)."""
        buf = res.astype(np.int32)
        n = w * h
        for i in range(n):
            y, x = divmod(i, w)
            if i == 0:
                pred = (0, 0, 0, 255)
            elif y == 0:
                pred = tuple(buf[i - 1])
            elif x == 0:
                pred = tuple(buf[i - w])
            else:
                mode = int(
                    tiles[(y >> size_bits) * tw + (x >> size_bits)][1]
                )
                if mode > 13:
                    raise ValueError(
                        f"invalid VP8L predictor mode {mode}"
                    )
                pred = cls._vp8l_predict(mode, buf, i, w)
            for k in range(4):
                buf[i][k] = (int(buf[i][k]) + pred[k]) & 0xFF
        return buf.astype(np.uint8)

    @classmethod
    def _vp8l_inv_color(
        cls,
        res: "np.ndarray",
        w: int,
        h: int,
        size_bits: int,
        tw: int,
        tiles: "np.ndarray",
    ) -> "np.ndarray":
        """Inverse color transform (RFC 9649 §3.3): per-tile signed
        3.5-fixed-point cross-channel deltas; green_to_red rides the
        tile pixel's BLUE channel, green_to_blue its green,
        red_to_blue its red; red reconstructs before feeding the
        red_to_blue term, exactly as the spec sequences it."""

        def s8(v: int) -> int:
            return v - 256 if v >= 128 else v

        out = res.copy()
        n = w * h
        for i in range(n):
            y, x = divmod(i, w)
            cte = tiles[(y >> size_bits) * tw + (x >> size_bits)]
            g2r, g2b, r2b = s8(int(cte[2])), s8(int(cte[1])), s8(int(cte[0]))
            g = s8(int(out[i][1]))
            r = (int(out[i][0]) + ((g2r * g) >> 5)) & 0xFF
            b = (int(out[i][2]) + ((g2b * g) >> 5)) & 0xFF
            b = (b + ((r2b * s8(r)) >> 5)) & 0xFF
            out[i][0] = r
            out[i][2] = b
        return out

    @classmethod
    def _vp8l_inv_cidx(
        cls,
        packed: "np.ndarray",
        packed_w: int,
        h: int,
        pal: "np.ndarray",
        width_bits: int,
        full_w: int,
    ) -> "np.ndarray":
        """Inverse color-indexing transform: unbundle 8>>width_bits-bit
        indices from each coded pixel's green channel (first pixel in
        the least-significant bits) and materialize through the
        delta-decoded palette; out-of-range indices fail loud."""
        bpp = 8 >> width_bits
        mask = (1 << width_bits) - 1
        psize = len(pal)
        out = np.zeros((full_w * h, 4), np.uint8)
        for y in range(h):
            base = y * packed_w
            for x in range(full_w):
                gbyte = int(packed[base + (x >> width_bits)][1])
                idx = (gbyte >> (bpp * (x & mask))) & ((1 << bpp) - 1)
                if idx >= psize:
                    raise ValueError(
                        "VP8L color-index out of palette range"
                    )
                out[y * full_w + x] = pal[idx]
        return out

    # -- parsing helpers -------------------------------------------------
    @staticmethod
    def _parse_netpbm(payload: bytes):
        """(magic, width, height, maxval, pixel_array[h, w, c])."""
        fields: list[bytes] = []
        i = 2  # past magic
        while len(fields) < 3 and i < len(payload):
            # skip whitespace + comment lines
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            fields.append(payload[i:j])
            i = j
        i += 1  # single whitespace after maxval, then raw samples
        w, h, maxval = (int(f) for f in fields)
        channels = 3 if payload[:2] == b"P6" else 1
        n = w * h * channels
        raster = payload[i : i + n]
        if maxval >= 256 or len(raster) != n:
            raise ValueError("unsupported or truncated netpbm payload")
        px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, channels)
        return payload[:2], w, h, maxval, px

    @staticmethod
    def _encode_netpbm(magic: bytes, px: np.ndarray) -> bytes:
        h, w = px.shape[:2]
        return magic + b"\n%d %d\n255\n" % (w, h) + px.tobytes()

    @staticmethod
    def _parse_bmp(payload: bytes):
        """(width, height, pixel_array[h, w, 3] in BGR file order)."""
        import struct

        if payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        data_offset = struct.unpack_from("<I", payload, 10)[0]
        header_size = struct.unpack_from("<I", payload, 14)[0]
        if header_size < 40:
            raise ValueError("unsupported BMP header")
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or compression != 0:
            raise ValueError("only 24-bit uncompressed BMP supported")
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        rows = []
        flipped = h > 0  # positive height = bottom-up storage
        for r in range(abs(h)):
            off = data_offset + r * stride
            rows.append(
                np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off)
                .reshape(w, 3)
            )
        px = np.stack(rows[::-1] if flipped else rows)
        return w, abs(h), px

    @staticmethod
    def _encode_bmp(px: np.ndarray) -> bytes:
        import struct

        h, w = px.shape[:2]
        stride = (w * 3 + 3) & ~3
        pad = stride - w * 3
        body = b"".join(
            px[r].tobytes() + b"\x00" * pad for r in range(h - 1, -1, -1)
        )
        header = struct.pack(
            "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
        return header + body

    # -- GIF helpers (LZW, GIF87a/89a) -------------------------------------
    _GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))

    @staticmethod
    def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
        """GIF-variant LZW: LSB-first bit packing, CLEAR/EOI codes,
        variable width growing at dictionary size 2^width (cap 12),
        KwKwK case handled. Returns exactly n_pixels indices."""
        clear = 1 << min_code_size
        eoi = clear + 1
        out: list[int] = []
        # bit reader, LSB-first
        acc = 0
        nbits = 0
        pos = 0

        def read_code(width: int) -> int:
            nonlocal acc, nbits, pos
            while nbits < width:
                if pos >= len(data):
                    raise ValueError("truncated GIF LZW stream")
                acc |= data[pos] << nbits
                nbits += 8
                pos += 1
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            return code

        table: list[list[int]] = []
        width = min_code_size + 1
        prev: list[int] | None = None

        def reset() -> None:
            nonlocal table, width, prev
            table = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None

        reset()
        while len(out) < n_pixels:
            code = read_code(width)
            if code == clear:
                reset()
                continue
            if code == eoi:
                break
            if code < len(table) and code != clear:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + [prev[0]]  # KwKwK
            else:
                raise ValueError("corrupt GIF LZW code")
            out.extend(entry)
            if prev is not None and len(table) < 4096:
                table.append(prev + [entry[0]])
                # the decoder's table lags the encoder's assignment
                # counter by exactly one (no entry for the first code
                # after CLEAR), so it widens one entry EARLIER — the
                # classic GIF LZW off-by-one
                if len(table) == (1 << width) - 1 and width < 12:
                    width += 1
            prev = entry
        if len(out) < n_pixels:
            raise ValueError("GIF LZW stream ended early")
        return out[:n_pixels]

    @staticmethod
    def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
        """GIF-variant LZW encoder: real dictionary compression with
        width growth and a CLEAR+reset at 4096 — the inverse state
        machine of _lzw_decode (round trips exercise the decoder's
        growth and KwKwK paths on repetitive inputs)."""
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        acc = 0
        nbits = 0

        def emit(code: int, width: int) -> None:
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table: dict[tuple[int, ...], int] = {}
        next_code = eoi + 1
        width = min_code_size + 1

        def reset() -> None:
            nonlocal table, next_code, width
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1

        reset()
        emit(clear, width)
        w: tuple[int, ...] = ()
        for k in indices:
            wk = w + (int(k),)
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            if next_code < 4096:
                table[wk] = next_code
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            else:
                emit(clear, width)
                reset()
            w = (int(k),)
        if w:
            emit(table[w], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    @classmethod
    def _parse_gif(cls, payload: bytes):
        """(width, height, indices[h, w], palette[n, 3]) for the first
        image of a GIF87a/GIF89a file: logical screen descriptor,
        global/local color tables, extension-block skip (sub-block
        chains), LZW-decoded index stream, 4-pass de-interlace."""
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF payload")
        if len(payload) < 14:
            raise ValueError("truncated GIF header")
        import struct

        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
        pos = 13
        palette = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            palette = np.frombuffer(
                payload, np.uint8, n * 3, pos
            ).reshape(n, 3)
            pos += n * 3
        while pos < len(payload):
            block = payload[pos]
            pos += 1
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension: label + sub-block chain
                pos += 1
                while pos < len(payload) and payload[pos]:
                    pos += 1 + payload[pos]
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension block")
                pos += 1
                continue
            if block != 0x2C:
                raise ValueError(f"unknown GIF block 0x{block:02x}")
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if left or top or w > sw or h > sh:
                raise ValueError("GIF sub-rectangle frames unsupported")
            pal = palette
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    payload, np.uint8, n * 3, pos
                ).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("GIF image has no color table")
            if pos >= len(payload):
                raise ValueError("truncated GIF image data")
            min_code = payload[pos]
            # spec range is 2..8 (<= 256 palette entries). An
            # unvalidated corrupt byte would size the LZW table at
            # 1 << min_code (OOM/hang at 0xFF) or emit entries > 255
            # that wrap silently in the uint8 index array — garbage
            # pixels instead of the contract ValueError.
            if not 2 <= min_code <= 8:
                raise ValueError(
                    f"GIF LZW min code size {min_code} outside 2..8"
                )
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                if pos + 1 + ln > len(payload):
                    raise ValueError("truncated GIF data sub-block")
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            if pos >= len(payload):
                raise ValueError("truncated GIF data sub-blocks")
            pos += 1
            idx = np.array(
                cls._lzw_decode(bytes(lzw), min_code, w * h), np.uint8
            ).reshape(h, w)
            if iflags & 0x40:  # interlaced: file rows -> 4-pass order
                rows = [
                    r
                    for start, step in cls._GIF_INTERLACE_PASSES
                    for r in range(start, h, step)
                ]
                out = np.zeros_like(idx)
                out[rows] = idx
                idx = out
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("GIF index outside color table")
            return w, h, idx, pal
        raise ValueError("GIF contains no image block")

    @classmethod
    def _encode_gif(
        cls,
        indices: np.ndarray,
        palette: np.ndarray,
        interlace: bool = False,
    ) -> bytes:
        """Single-frame GIF89a from an [h, w] index array + [n, 3]
        palette (padded to a power of two): real LZW compression,
        optional 4-pass interlaced row order."""
        import struct

        h, w = indices.shape
        n = len(palette)
        bits = max(2, (n - 1).bit_length())
        full = 1 << bits
        pal = np.zeros((full, 3), np.uint8)
        pal[:n] = palette
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        out += pal.tobytes()
        iflags = 0x40 if interlace else 0
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
        rows = (
            [
                r
                for start, step in cls._GIF_INTERLACE_PASSES
                for r in range(start, h, step)
            ]
            if interlace
            else range(h)
        )
        stream = [int(v) for r in rows for v in indices[r]]
        min_code = max(2, bits)
        out.append(min_code)
        lzw = cls._lzw_encode(stream, min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00\x3b"
        return bytes(out)

    # -- TIFF helpers (baseline: uncompressed / PackBits, II and MM) ------
    @staticmethod
    def _packbits_decode(data: bytes, expected: int) -> bytes:
        """Apple PackBits RLE (TIFF compression 32773)."""
        out = bytearray()
        i = 0
        while i < len(data) and len(out) < expected:
            n = data[i]
            i += 1
            if n < 128:  # literal run of n+1 bytes
                if i + n + 1 > len(data):
                    raise ValueError("truncated PackBits literal run")
                out += data[i : i + n + 1]
                i += n + 1
            elif n > 128:  # repeat next byte 257-n times
                if i >= len(data):
                    raise ValueError("truncated PackBits repeat run")
                out += bytes([data[i]]) * (257 - n)
                i += 1
            # n == 128: noop per spec
        if len(out) != expected:
            raise ValueError("PackBits output length mismatch")
        return bytes(out)

    @staticmethod
    def _packbits_encode(data: bytes) -> bytes:
        """Real run-detecting PackBits encoder (runs >= 3 become repeat
        packets; literals chunked at 128)."""
        out = bytearray()
        i = 0
        n = len(data)
        while i < n:
            run = 1
            while i + run < n and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                out += bytes([257 - run, data[i]])
                i += run
                continue
            lit_start = i
            i += run
            while i < n and i - lit_start < 128:
                run = 1
                while i + run < n and run < 3 and data[i + run] == data[i]:
                    run += 1
                if run >= 3:
                    break
                i += 1
            out += bytes([i - lit_start - 1]) + data[lit_start:i]
        return bytes(out)

    @classmethod
    def _parse_tiff(cls, payload: bytes):
        """(width, height, pixel_array[h, w, ch]) for baseline TIFF:
        both byte orders (II/MM), 8-bit gray (photometric 1) and RGB
        (photometric 2), chunky planar config, multi-strip assembly,
        compression none (1) or PackBits (32773). Everything else —
        tiles, predictors, LZW/Deflate, palette — is rejected loudly."""
        import struct

        if payload[:4] == b"II*\x00":
            e = "<"
        elif payload[:4] == b"MM\x00*":
            e = ">"
        else:
            raise ValueError("not a TIFF payload")
        if len(payload) < 8:
            raise ValueError("truncated TIFF header")
        ifd_off = struct.unpack_from(f"{e}I", payload, 4)[0]
        if ifd_off + 2 > len(payload):
            raise ValueError("truncated TIFF IFD")
        n_entries = struct.unpack_from(f"{e}H", payload, ifd_off)[0]
        if ifd_off + 2 + 12 * n_entries > len(payload):
            raise ValueError("truncated TIFF IFD entries")
        tags: dict[int, list[int]] = {}
        for k in range(n_entries):
            off = ifd_off + 2 + 12 * k
            tag, typ, cnt = struct.unpack_from(f"{e}HHI", payload, off)
            size = {1: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue  # RATIONAL etc. — not needed for baseline
            total = size * cnt
            if total <= 4:
                voff = off + 8
            else:
                voff = struct.unpack_from(f"{e}I", payload, off + 8)[0]
            if voff + total > len(payload):
                raise ValueError("truncated TIFF tag values")
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(
                struct.unpack_from(f"{e}{cnt}{fmt}", payload, voff)
            )

        def one(tag: int, default: int | None = None) -> int:
            if tag in tags:
                return tags[tag][0]
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default

        w, h = one(256), one(257)
        comp = one(259, 1)
        photo = one(262)
        spp = one(277, 1)
        bits = tags.get(258, [8] * spp)
        if any(b != 8 for b in bits) or len(bits) != spp:
            raise ValueError("only 8-bit TIFF samples supported")
        if photo not in (1, 2) or spp not in (1, 3):
            raise ValueError("only gray/RGB chunky TIFF supported")
        if one(284, 1) != 1:
            raise ValueError("planar TIFF unsupported")
        if comp not in (1, 32773):
            raise ValueError("only uncompressed/PackBits TIFF supported")
        rows_per_strip = one(278, h)
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip offsets/byte counts")
        raster = bytearray()
        row = 0
        for soff, scnt in zip(offsets, counts):
            if soff + scnt > len(payload):
                raise ValueError("truncated TIFF strip")
            strip = payload[soff : soff + scnt]
            n_rows = min(rows_per_strip, h - row)
            expected = n_rows * w * spp
            if comp == 32773:
                strip = cls._packbits_decode(strip, expected)
            if len(strip) != expected:
                raise ValueError("TIFF strip size mismatch")
            raster += strip
            row += n_rows
        if row != h:
            raise ValueError("TIFF strips do not cover the image")
        return w, h, np.frombuffer(bytes(raster), np.uint8).reshape(
            h, w, spp
        )

    @staticmethod
    def _encode_tiff(
        px: np.ndarray,
        byte_order: str = "II",
        packbits: bool = False,
        rows_per_strip: int | None = None,
    ) -> bytes:
        """Baseline TIFF writer: gray [h, w] / [h, w, 1] or RGB
        [h, w, 3], chunky, multi-strip, optional PackBits, either byte
        order — the structural variety the decoder must walk."""
        import struct

        if px.ndim == 2:
            px = px[:, :, None]
        h, w, spp = px.shape
        e = "<" if byte_order == "II" else ">"
        rows_per_strip = rows_per_strip or h
        strips = []
        for r0 in range(0, h, rows_per_strip):
            raw = px[r0 : r0 + rows_per_strip].tobytes()
            strips.append(
                PixmapCodec._packbits_encode(raw) if packbits else raw
            )
        # layout: header(8) | strip data | IFD | out-of-line tag values
        data_start = 8
        offsets = []
        pos = data_start
        for s in strips:
            offsets.append(pos)
            pos += len(s)
        ifd_off = pos
        entries = [
            (256, 4, [w]),
            (257, 4, [h]),
            (258, 3, [8] * spp),
            (259, 3, [32773 if packbits else 1]),
            (262, 3, [2 if spp == 3 else 1]),
            (273, 4, offsets),
            (277, 3, [spp]),
            (278, 4, [rows_per_strip]),
            (279, 4, [len(s) for s in strips]),
            (284, 3, [1]),
        ]
        ifd_size = 2 + 12 * len(entries) + 4
        extra_off = ifd_off + ifd_size
        extra = bytearray()
        ifd = struct.pack(f"{e}H", len(entries))
        for tag, typ, vals in entries:
            size = {3: 2, 4: 4}[typ]
            fmt = {3: "H", 4: "I"}[typ]
            packed = struct.pack(f"{e}{len(vals)}{fmt}", *vals)
            ent = struct.pack(f"{e}HHI", tag, typ, len(vals))
            if len(packed) <= 4:
                ent += packed + b"\x00" * (4 - len(packed))
            else:
                ent += struct.pack(f"{e}I", extra_off + len(extra))
                extra += packed
            ifd += ent
        ifd += struct.pack(f"{e}I", 0)  # no next IFD
        header = (
            (b"II*\x00" if e == "<" else b"MM\x00*")
            + struct.pack(f"{e}I", ifd_off)
        )
        return header + b"".join(strips) + ifd + bytes(extra)

    # -- WAV helpers -----------------------------------------------------
    @staticmethod
    def _parse_wav(payload: bytes):
        """(frames_per_channel, channels, samples[int16 array]) for a
        RIFF/WAVE file with 16-bit PCM. Walks chunks properly (fmt may
        be followed by LIST/fact before data; chunk sizes pad to even
        offsets per the RIFF spec)."""
        import struct

        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        pos = 12
        fmt = None
        data = None
        while pos + 8 <= len(payload):
            cid, size = struct.unpack_from("<4sI", payload, pos)
            body = payload[pos + 8 : pos + 8 + size]
            if len(body) != size:
                # a truncated data chunk that stays frame-aligned would
                # otherwise decode to wrong-but-plausible stats — this
                # codec never fakes a result
                raise ValueError(f"truncated WAV chunk ({cid!r})")
            if cid == b"fmt ":
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks pad to even offsets
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt or data chunk")
        audio_format, channels, _rate, _brate, block_align, bits = fmt
        if audio_format == 7 and bits == 8:  # G.711 mu-law telephony
            if channels < 1 or block_align != channels:
                raise ValueError("malformed mu-law WAV fmt chunk")
            if len(data) % block_align:
                raise ValueError("WAV data size not a frame multiple")
            # canonical CCITT ulaw2linear, vectorized: complement, bias
            # the mantissa, shift by the segment, re-sign — exact
            # integer arithmetic a SQL oracle replays
            u = (~np.frombuffer(data, np.uint8)).astype(np.int64) & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            samples = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(
                np.int16
            )
            return len(data) // block_align, channels, samples
        if audio_format == 0x11 and bits == 4:  # IMA/DVI ADPCM
            if channels != 1:
                raise NotImplementedError(
                    "only mono IMA-ADPCM WAV is supported"
                )
            if block_align < 5 or len(data) % block_align:
                raise ValueError("WAV data size not a block multiple")
            out: list[int] = []
            for off in range(0, len(data), block_align):
                block = data[off : off + block_align]
                pred = struct.unpack_from("<h", block, 0)[0]
                idx = block[2]
                if block[3] != 0 or idx > 88:
                    raise ValueError("malformed IMA-ADPCM block header")
                out.append(pred)
                for j in range((block_align - 4) * 2):
                    byte = block[4 + j // 2]
                    nib = (byte >> (4 * (j % 2))) & 0xF
                    pred, idx = PixmapCodec._adpcm_step(pred, idx, nib)
                    out.append(pred)
            samples = np.array(out, np.int16)
            return len(samples), 1, samples
        if audio_format != 1 or bits != 16:
            raise ValueError(
                "only 16-bit PCM, 8-bit mu-law or IMA-ADPCM WAV supported"
            )
        if channels < 1 or block_align != channels * 2:
            raise ValueError("malformed WAV fmt chunk")
        if len(data) % block_align:
            raise ValueError("WAV data size not a frame multiple")
        samples = np.frombuffer(data, dtype="<i2")
        return len(data) // block_align, channels, samples

    # -- AIFF helpers (big-endian PCM, 80-bit extended sample rate) --------
    @staticmethod
    def _parse_aiff(payload: bytes):
        """(frames_per_channel, channels, samples[int16], sample_rate)
        for an AIFF 16-bit PCM file: FORM/AIFF container, COMM chunk
        (channels, frame count, sample size, 80-bit IEEE extended
        sample rate), SSND chunk (offset/blockSize header then
        big-endian samples). Chunks pad to even offsets like RIFF."""
        import struct

        if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
            raise ValueError("not an AIFF payload")
        pos = 12
        comm = None
        sound = None
        while pos + 8 <= len(payload):
            cid, size = struct.unpack_from(">4sI", payload, pos)
            body = payload[pos + 8 : pos + 8 + size]
            if len(body) != size:
                raise ValueError(f"truncated AIFF chunk ({cid!r})")
            if cid == b"COMM":
                if size < 18:
                    raise ValueError("short AIFF COMM chunk")
                channels, n_frames, bits = struct.unpack_from(
                    ">HIH", body, 0
                )
                # 80-bit IEEE extended: 15-bit exponent, explicit-
                # integer-bit 64-bit mantissa
                exp = struct.unpack_from(">H", body, 8)[0]
                mant = struct.unpack_from(">Q", body, 10)[0]
                if mant == 0:
                    rate = 0
                else:
                    rate = int(
                        round(mant * 2.0 ** ((exp & 0x7FFF) - 16383 - 63))
                    )
                comm = (channels, n_frames, bits, rate)
            elif cid == b"SSND":
                off, _blk = struct.unpack_from(">II", body, 0)
                sound = body[8 + off :]
            pos += 8 + size + (size & 1)
        if comm is None or sound is None:
            raise ValueError("AIFF missing COMM or SSND chunk")
        channels, n_frames, bits, rate = comm
        if bits != 16:
            raise ValueError("only 16-bit PCM AIFF supported")
        if channels < 1 or len(sound) < n_frames * channels * 2:
            raise ValueError("AIFF sound data shorter than frame count")
        samples = np.frombuffer(
            sound[: n_frames * channels * 2], dtype=">i2"
        )
        return n_frames, channels, samples, rate

    @staticmethod
    def _encode_aiff(
        samples: np.ndarray, channels: int, sample_rate: int = 16000
    ) -> bytes:
        import struct

        data = np.asarray(samples, dtype=">i2").tobytes()
        n_frames = len(samples) // channels
        # 80-bit extended from an integer rate: normalize the explicit
        # integer bit to the top of the 64-bit mantissa
        k = sample_rate.bit_length() - 1
        ext = struct.pack(
            ">HQ", 16383 + k, sample_rate << (63 - k)
        )
        comm = struct.pack(">HIH", channels, n_frames, 16) + ext
        ssnd = struct.pack(">II", 0, 0) + data
        chunks = b""
        for cid, body in ((b"COMM", comm), (b"SSND", ssnd)):
            chunks += cid + struct.pack(">I", len(body)) + body
            if len(body) & 1:
                chunks += b"\x00"
        return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFF" + chunks

    @staticmethod
    def _encode_wav_mulaw(
        ulaw_bytes: bytes, channels: int, sample_rate: int = 8000
    ) -> bytes:
        """RIFF/WAVE container around raw G.711 mu-law bytes (audio
        format 7, 8 bits/sample) — the telephony corpus shape."""
        import struct

        fmt = struct.pack(
            "<HHIIHH", 7, channels, sample_rate,
            sample_rate * channels, channels, 8,
        )
        pad = b"\x00" if len(ulaw_bytes) & 1 else b""  # RIFF even pad
        return (
            b"RIFF"
            + struct.pack(
                "<I", 4 + 8 + len(fmt) + 8 + len(ulaw_bytes) + len(pad)
            )
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(ulaw_bytes)) + ulaw_bytes
            + pad
        )

    @staticmethod
    def _encode_wav(
        samples: np.ndarray, channels: int, sample_rate: int = 16000
    ) -> bytes:
        import struct

        data = np.asarray(samples, dtype="<i2").tobytes()
        fmt = struct.pack(
            "<HHIIHH", 1, channels, sample_rate,
            sample_rate * channels * 2, channels * 2, 16,
        )
        return (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    # -- IMA/DVI ADPCM (WAV format 0x11): 4-bit compressed audio ----------
    # Public IMA standard tables (index adjustment by nibble magnitude;
    # 89-entry quantizer step ladder).
    _IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
    _IMA_STEP_TABLE = (
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    )

    @classmethod
    def _adpcm_step(cls, pred: int, idx: int, nibble: int) -> tuple[int, int]:
        """One IMA-ADPCM state-machine step: (predictor, step index) ->
        next state for one 4-bit code. Pure integer arithmetic — a
        DuckDB recursive CTE replays it bit-for-bit (the oracle)."""
        step = cls._IMA_STEP_TABLE[idx]
        diff = step >> 3
        if nibble & 4:
            diff += step
        if nibble & 2:
            diff += step >> 1
        if nibble & 1:
            diff += step >> 2
        pred = pred - diff if nibble & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + cls._IMA_INDEX_TABLE[nibble & 7]))
        return pred, idx

    @staticmethod
    def _encode_wav_adpcm(
        blocks: list[tuple[int, int, list[int]]],
        sample_rate: int = 8000,
    ) -> bytes:
        """Mono IMA-ADPCM WAV from synthesis-level blocks of
        (predictor, step_index, nibbles): fmt chunk with the cbSize=2
        extension (wSamplesPerBlock), the fact chunk compressed WAV
        requires, block headers (int16 predictor, step index, reserved
        0) and low-nibble-first code bytes. Every block must carry the
        same nibble count (fixed nBlockAlign). The DECODE side is the
        production leg (corpora arrive encoded); this writer exists so
        the decoder can be driven with exactly-known state sequences
        that the SQL oracle re-derives."""
        import struct

        n_nibbles = len(blocks[0][2])
        if n_nibbles % 2:
            raise ValueError("nibble count per block must be even")
        if any(len(b[2]) != n_nibbles for b in blocks):
            raise ValueError("all blocks must carry the same nibble count")
        block_align = 4 + n_nibbles // 2
        samples_per_block = n_nibbles + 1
        data = bytearray()
        for pred, idx, nibs in blocks:
            if not (0 <= idx <= 88):
                raise ValueError("step index out of range")
            data += struct.pack("<hBB", pred, idx, 0)
            for j in range(0, n_nibbles, 2):
                data.append(
                    (nibs[j] & 0xF) | ((nibs[j + 1] & 0xF) << 4)
                )
        n_samples = len(blocks) * samples_per_block
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, sample_rate,
            sample_rate * block_align // samples_per_block,
            block_align, 4, 2, samples_per_block,
        )
        fact = struct.pack("<I", n_samples)
        return (
            b"RIFF"
            + struct.pack(
                "<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(data)
            )
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(data)) + bytes(data)
        )

    # -- FLAC helpers (free lossless audio codec, RFC 9639) ----------------
    # Real FLAC: STREAMINFO metadata, framed bitstream with CRC-8/CRC-16
    # integrity, constant/verbatim/fixed-predictor/LPC subframes,
    # rice/rice2 partitioned residuals, stereo decorrelation
    # (left-side/right-side/mid-side), wasted-bits, and the STREAMINFO
    # MD5 of the decoded stream verified on decode — a frame-order or
    # sample-value bug cannot produce plausible output, it raises.
    _FLAC_RATE_CODES = {
        88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
        24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
    }

    @staticmethod
    def _flac_crc8(data: bytes) -> int:
        # table-driven (poly 0x07): the per-bit loop costs 8 python
        # iterations per byte and runs twice per frame on encode AND
        # decode — interpreter time the standard 256-entry table removes
        crc = 0
        table = _FLAC_CRC8_TABLE
        for b in data:
            crc = table[crc ^ b]
        return crc

    @staticmethod
    def _flac_crc16(data: bytes) -> int:
        # table-driven (poly 0x8005), same rationale as _flac_crc8
        crc = 0
        table = _FLAC_CRC16_TABLE
        for b in data:
            crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
        return crc

    @staticmethod
    def _flac_utf8_encode(v: int) -> bytes:
        """FLAC's UTF-8-style coded number (frame/sample index)."""
        if v < 0x80:
            return bytes([v])
        for n in range(1, 7):
            if v < 1 << (6 + 5 * n):
                lead = (0xFF00 >> (n + 1)) & 0xFF
                return bytes([lead | (v >> (6 * n))]) + bytes(
                    0x80 | ((v >> (6 * (n - 1 - i))) & 0x3F)
                    for i in range(n)
                )
        raise ValueError("FLAC coded number out of range")

    @staticmethod
    def _flac_utf8_decode(br: "_MsbBitReader") -> int:
        b0 = br.read(8)
        if b0 < 0x80:
            return b0
        n = 0
        mask = 0x40
        while b0 & mask:
            n += 1
            mask >>= 1
        if not 1 <= n <= 6:
            raise ValueError("invalid FLAC UTF-8 coded number")
        v = b0 & (mask - 1)
        for _ in range(n):
            c = br.read(8)
            if c & 0xC0 != 0x80:
                raise ValueError("invalid FLAC UTF-8 continuation byte")
            v = (v << 6) | (c & 0x3F)
        return v

    @staticmethod
    def _flac_zigzag(v: int) -> int:
        return (v << 1) if v >= 0 else (-v << 1) - 1

    @classmethod
    def _write_flac_residual(
        cls,
        fw: "_MsbBitWriter",
        res: list[int],
        n: int,
        order: int,
        partition_order: int,
        force_escape: bool,
    ) -> None:
        po = partition_order
        if po < 0 or n % (1 << po) or (n >> po) <= order:
            po = 0
        counts = [
            (n >> po) - (order if i == 0 else 0) for i in range(1 << po)
        ]
        params: list[int] = []
        idx = 0
        for cnt in counts:
            chunk = res[idx : idx + cnt]
            idx += cnt
            us = [cls._flac_zigzag(v) for v in chunk]
            best_p, best_cost = 0, None
            for p in range(0, 31):
                cost = sum(u >> p for u in us) + cnt * (p + 1)
                if best_cost is None or cost < best_cost:
                    best_p, best_cost = p, cost
            params.append(best_p)
        method = 0 if all(p <= 14 for p in params) and not force_escape else 1
        pbits = 4 + method
        esc = (1 << pbits) - 1
        fw.write(method, 2)
        fw.write(po, 4)
        idx = 0
        for p_i, cnt in enumerate(counts):
            chunk = res[idx : idx + cnt]
            idx += cnt
            if force_escape or params[p_i] >= esc:
                raw = max(
                    ((v if v >= 0 else ~v).bit_length() + 1 for v in chunk),
                    default=1,
                )
                if raw > 31:
                    raise ValueError("FLAC residual exceeds escape width")
                fw.write(esc, pbits)
                fw.write(raw, 5)
                for v in chunk:
                    fw.write(v & ((1 << raw) - 1), raw)
            else:
                p = params[p_i]
                fw.write(p, pbits)
                for v in chunk:
                    u = cls._flac_zigzag(v)
                    fw.write_unary(u >> p)
                    fw.write(u & ((1 << p) - 1), p)

    @classmethod
    def _write_flac_subframe(
        cls,
        fw: "_MsbBitWriter",
        data: list[int],
        bps: int,
        force_verbatim: bool,
        partition_order: int,
        force_escape: bool,
    ) -> None:
        n = len(data)
        # wasted bits: trailing zero bits common to every sample
        k = 0
        if not force_verbatim and any(data):
            k = min(
                (v & -v).bit_length() - 1 if v else bps for v in data
            )
            k = max(0, min(k, bps - 1))
        eff = [v >> k for v in data]
        ebps = bps - k

        def wasted() -> None:
            if k:
                fw.write(1, 1)
                fw.write(1, k)  # (k-1) zero bits then a one bit
            else:
                fw.write(0, 1)

        if force_verbatim:
            fw.write(0, 1)
            fw.write(1, 6)
            wasted()
            for v in eff:
                fw.write(v & ((1 << ebps) - 1), ebps)
            return
        if all(v == eff[0] for v in eff):
            fw.write(0, 1)
            fw.write(0, 6)
            wasted()
            fw.write(eff[0] & ((1 << ebps) - 1), ebps)
            return
        # best fixed predictor order by zigzag bit-length cost
        best_order, best_res, best_cost = 0, eff, None
        res = eff
        for order in range(0, min(4, n - 1) + 1):
            if order > 0:
                res = [res[i + 1] - res[i] for i in range(len(res) - 1)]
            cand = res if order else eff
            cost = sum(cls._flac_zigzag(v).bit_length() for v in cand)
            if best_cost is None or cost < best_cost:
                best_cost, best_order, best_res = cost, order, list(cand)
        order, resid = best_order, best_res
        fw.write(0, 1)
        fw.write(0b001000 | order, 6)
        wasted()
        for v in eff[:order]:
            fw.write(v & ((1 << ebps) - 1), ebps)
        cls._write_flac_residual(
            fw, resid, n, order, partition_order, force_escape
        )

    @classmethod
    def _encode_flac(
        cls,
        samples: np.ndarray,
        channels: int,
        sample_rate: int = 16000,
        block_size: int = 16,
        stereo_mode: str = "independent",
        force_verbatim: bool = False,
        partition_order: int = 0,
        force_escape: bool = False,
    ) -> bytes:
        """Interleaved int16 samples -> a real FLAC stream: fLaC magic,
        STREAMINFO (incl. MD5 of the unencoded stream), then fixed-
        blocking frames. stereo_mode (2-channel only) selects the
        channel assignment: independent / left_side / right_side /
        mid_side."""
        import struct

        x = np.asarray(samples, dtype=np.int64)
        if channels < 1 or len(x) % channels:
            raise ValueError("sample count not a multiple of channels")
        n_total = len(x) // channels
        chans = [x[c::channels] for c in range(channels)]
        md5 = hashlib.md5(
            np.asarray(samples, dtype="<i2").tobytes()
        ).digest()
        frames_out: list[bytes] = []
        frame_idx = 0
        pos = 0
        sizes: list[int] = []
        while pos < n_total:
            n = min(block_size, n_total - pos)
            sizes.append(n)
            block = [
                [int(v) for v in c[pos : pos + n]] for c in chans
            ]
            if channels == 2 and stereo_mode != "independent":
                left, right = block
                side = [a - b for a, b in zip(left, right)]
                if stereo_mode == "left_side":
                    ch_assign, subs = 8, [(left, 16), (side, 17)]
                elif stereo_mode == "right_side":
                    ch_assign, subs = 9, [(side, 17), (right, 16)]
                elif stereo_mode == "mid_side":
                    mid = [(a + b) >> 1 for a, b in zip(left, right)]
                    ch_assign, subs = 10, [(mid, 16), (side, 17)]
                else:
                    raise ValueError(f"unknown stereo mode {stereo_mode}")
            else:
                ch_assign = channels - 1
                subs = [(c, 16) for c in block]
            hdr = _MsbBitWriter()
            hdr.write(0b11111111111110, 14)
            hdr.write(0, 1)  # reserved
            hdr.write(0, 1)  # fixed blocking strategy
            bs_code = 0b0110 if n - 1 < 256 else 0b0111
            hdr.write(bs_code, 4)
            rate_code = cls._FLAC_RATE_CODES.get(sample_rate, 0b1101)
            hdr.write(rate_code, 4)
            hdr.write(ch_assign, 4)
            hdr.write(0b100, 3)  # 16 bits per sample
            hdr.write(0, 1)  # reserved
            for b in cls._flac_utf8_encode(frame_idx):
                hdr.write(b, 8)
            hdr.write(n - 1, 8 if bs_code == 0b0110 else 16)
            if rate_code == 0b1101:
                hdr.write(sample_rate, 16)
            hbytes = bytearray(hdr.getvalue())
            hbytes.append(cls._flac_crc8(bytes(hbytes)))
            fw = _MsbBitWriter()
            for b in hbytes:
                fw.write(b, 8)
            for data, bps in subs:
                cls._write_flac_subframe(
                    fw, data, bps, force_verbatim, partition_order,
                    force_escape,
                )
            fw.align()
            body = fw.getvalue()
            frames_out.append(
                body + struct.pack(">H", cls._flac_crc16(body))
            )
            pos += n
            frame_idx += 1
        si = _MsbBitWriter()
        si.write(min(sizes, default=block_size), 16)
        si.write(max(sizes, default=block_size), 16)
        si.write(0, 24)  # min frame size unknown
        si.write(0, 24)  # max frame size unknown
        si.write(sample_rate, 20)
        si.write(channels - 1, 3)
        si.write(15, 5)  # bps - 1
        si.write(n_total, 36)
        info = si.getvalue() + md5
        meta = bytes([0x80]) + len(info).to_bytes(3, "big") + info
        return b"fLaC" + meta + b"".join(frames_out)

    @classmethod
    def _read_flac_residual(
        cls, br: "_MsbBitReader", n: int, order: int
    ) -> list[int]:
        method = br.read(2)
        if method > 1:
            raise ValueError("reserved FLAC residual coding method")
        pbits = 4 + method
        esc = (1 << pbits) - 1
        po = br.read(4)
        if n % (1 << po) or (n >> po) <= order:
            raise ValueError("invalid FLAC residual partition order")
        res: list[int] = []
        for p_i in range(1 << po):
            cnt = (n >> po) - (order if p_i == 0 else 0)
            p = br.read(pbits)
            if p == esc:
                raw = br.read(5)
                res.extend(
                    br.read_signed(raw) if raw else 0 for _ in range(cnt)
                )
            else:
                for _ in range(cnt):
                    u = (br.read_unary() << p) | br.read(p)
                    res.append((u >> 1) ^ -(u & 1))
        return res

    @classmethod
    def _read_flac_subframe(
        cls, br: "_MsbBitReader", n: int, bps: int
    ) -> list[int]:
        if br.read(1):
            raise ValueError("reserved padding bit set in FLAC subframe")
        t = br.read(6)
        k = 0
        if br.read(1):  # wasted-bits flag
            k = br.read_unary() + 1
        ebps = bps - k
        if ebps <= 0:
            raise ValueError("FLAC wasted bits exceed sample size")
        if t == 0:  # constant
            vals = [br.read_signed(ebps)] * n
        elif t == 1:  # verbatim
            vals = [br.read_signed(ebps) for _ in range(n)]
        elif 8 <= t <= 12:  # fixed predictor, order t & 7
            order = t & 7
            if order > n:
                raise ValueError("FLAC predictor order exceeds block size")
            warm = [br.read_signed(ebps) for _ in range(order)]
            resid = cls._read_flac_residual(br, n, order)
            coefs = ([], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1])[order]
            vals = list(warm)
            for i in range(order, n):
                pred = sum(
                    c * vals[i - 1 - j] for j, c in enumerate(coefs)
                )
                vals.append(resid[i - order] + pred)
        elif t >= 32:  # LPC, order (t & 31) + 1
            order = (t & 31) + 1
            if order > n:
                raise ValueError("FLAC LPC order exceeds block size")
            warm = [br.read_signed(ebps) for _ in range(order)]
            prec = br.read(4) + 1
            if prec == 16:
                raise ValueError("invalid FLAC LPC precision")
            shift = br.read_signed(5)
            if shift < 0:
                raise ValueError("negative FLAC LPC shift")
            coefs = [br.read_signed(prec) for _ in range(order)]
            resid = cls._read_flac_residual(br, n, order)
            vals = list(warm)
            for i in range(order, n):
                pred = sum(
                    c * vals[i - 1 - j] for j, c in enumerate(coefs)
                ) >> shift
                vals.append(resid[i - order] + pred)
        else:
            raise ValueError("reserved FLAC subframe type")
        return [v << k for v in vals]

    @classmethod
    def _parse_flac_frame(
        cls,
        payload: bytes,
        br: "_MsbBitReader",
        channels: int,
        bps: int,
        stream_rate: int,
        out: list[list[int]],
    ) -> int:
        start = br.byte_pos
        if br.read(14) != 0b11111111111110:
            raise ValueError("bad FLAC frame sync code")
        if br.read(1):
            raise ValueError("reserved bit set in FLAC frame header")
        br.read(1)  # blocking strategy (number already UTF-8 coded)
        bs_code = br.read(4)
        rate_code = br.read(4)
        ch_assign = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("reserved bit set in FLAC frame header")
        cls._flac_utf8_decode(br)  # frame/sample number
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 1:
            n = 192
        elif bs_code <= 5:
            n = 576 << (bs_code - 2)
        elif bs_code == 6:
            n = br.read(8) + 1
        elif bs_code == 7:
            n = br.read(16) + 1
        else:
            n = 256 << (bs_code - 8)
        rate_table = (
            None, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
            32000, 44100, 48000, 96000,
        )
        if rate_code == 0:
            pass  # use stream rate
        elif rate_code <= 11:
            if rate_table[rate_code] != stream_rate:
                raise ValueError("FLAC frame sample rate mismatch")
        elif rate_code == 12:
            if br.read(8) * 1000 != stream_rate:
                raise ValueError("FLAC frame sample rate mismatch")
        elif rate_code == 13:
            if br.read(16) != stream_rate:
                raise ValueError("FLAC frame sample rate mismatch")
        elif rate_code == 14:
            if br.read(16) * 10 != stream_rate:
                raise ValueError("FLAC frame sample rate mismatch")
        else:
            raise ValueError("invalid FLAC frame sample rate code")
        if not br.aligned:
            raise ValueError("misaligned FLAC frame header")
        crc8_end = br.byte_pos
        if br.read(8) != cls._flac_crc8(payload[start:crc8_end]):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        ss_map = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
        if ss_code not in ss_map:
            raise ValueError("reserved FLAC sample size code")
        if ss_map[ss_code] != bps:
            raise ValueError("FLAC frame sample size mismatch")
        if ch_assign <= 7:
            if ch_assign + 1 != channels:
                raise ValueError("FLAC frame channel count mismatch")
            chans = [
                cls._read_flac_subframe(br, n, bps)
                for _ in range(channels)
            ]
        elif ch_assign in (8, 9, 10):
            if channels != 2:
                raise ValueError(
                    "FLAC stereo decorrelation on non-stereo stream"
                )
            side_first = ch_assign == 9
            a = cls._read_flac_subframe(
                br, n, bps + (1 if side_first else 0)
            )
            b = cls._read_flac_subframe(
                br, n, bps + (0 if side_first else 1)
            )
            if ch_assign == 8:  # left/side
                chans = [a, [x - s for x, s in zip(a, b)]]
            elif ch_assign == 9:  # side/right
                chans = [[s + x for s, x in zip(a, b)], b]
            else:  # mid/side
                mids = [
                    (m << 1) | (s & 1) for m, s in zip(a, b)
                ]
                chans = [
                    [(m + s) >> 1 for m, s in zip(mids, b)],
                    [(m - s) >> 1 for m, s in zip(mids, b)],
                ]
        else:
            raise ValueError("reserved FLAC channel assignment")
        br.align()
        crc16_end = br.byte_pos
        if br.read(16) != cls._flac_crc16(payload[start:crc16_end]):
            raise ValueError("FLAC frame CRC-16 mismatch")
        for c in range(channels):
            out[c].extend(chans[c])
        return n

    @classmethod
    def _parse_flac(cls, payload: bytes):
        """(frames_per_channel, channels, samples[int16 interleaved],
        sample_rate) for a FLAC stream. Verifies frame-header CRC-8,
        frame CRC-16 and the STREAMINFO MD5 of the decoded stream —
        any corruption or mis-assembly raises instead of returning
        wrong-but-plausible samples."""
        if payload[:4] != b"fLaC":
            raise ValueError("not a FLAC payload")
        pos = 4
        streaminfo = None
        last = False
        while not last:
            if pos + 4 > len(payload):
                raise ValueError("truncated FLAC metadata header")
            b0 = payload[pos]
            last = bool(b0 & 0x80)
            btype = b0 & 0x7F
            size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
            body = payload[pos + 4 : pos + 4 + size]
            if len(body) != size:
                raise ValueError("truncated FLAC metadata block")
            if btype == 0:
                if size != 34:
                    raise ValueError("malformed FLAC STREAMINFO")
                streaminfo = body
            elif btype == 127:
                raise ValueError("invalid FLAC metadata block type")
            pos += 4 + size
        if streaminfo is None:
            raise ValueError("FLAC stream missing STREAMINFO")
        si = _MsbBitReader(streaminfo)
        si.read(16)  # min block size
        si.read(16)  # max block size
        si.read(24)  # min frame size
        si.read(24)  # max frame size
        rate = si.read(20)
        channels = si.read(3) + 1
        bps = si.read(5) + 1
        total = si.read(36)
        md5_expect = streaminfo[18:34]
        if bps != 16:
            raise ValueError("only 16-bit FLAC supported")
        out: list[list[int]] = [[] for _ in range(channels)]
        br = _MsbBitReader(payload, pos)
        decoded = 0
        while decoded < total:
            decoded += cls._parse_flac_frame(
                payload, br, channels, bps, rate, out
            )
        if decoded != total:
            raise ValueError("FLAC frame sizes overrun STREAMINFO total")
        samples = np.empty(decoded * channels, dtype=np.int16)
        for c in range(channels):
            arr = np.asarray(out[c], dtype=np.int64)
            if len(arr) and (arr.max() > 32767 or arr.min() < -32768):
                raise ValueError("decoded FLAC sample out of int16 range")
            samples[c::channels] = arr.astype(np.int16)
        if (
            hashlib.md5(samples.astype("<i2").tobytes()).digest()
            != md5_expect
        ):
            raise ValueError("FLAC STREAMINFO MD5 mismatch")
        return decoded, channels, samples, rate

    # -- AVI helpers (RIFF container, MJPEG video stream) ------------------
    @staticmethod
    def _encode_avi(
        frames: list[bytes], w: int, h: int, fps: int = 10
    ) -> bytes:
        """Motion-JPEG AVI: RIFF('AVI ') with hdrl (avih + vids strl,
        handler MJPG), a movi LIST of 00dc chunks (one baseline JPEG
        per frame, even-padded) and an idx1 index whose offsets point
        back into movi — the container layout every legacy capture
        pipeline emits."""
        import struct

        def chunk(cid: bytes, body: bytes) -> bytes:
            return (
                cid + struct.pack("<I", len(body)) + body
                + (b"\x00" if len(body) & 1 else b"")
            )

        def lst(ltype: bytes, body: bytes) -> bytes:
            return chunk(b"LIST", ltype + body)

        n = len(frames)
        max_frame = max((len(f) for f in frames), default=0)
        avih = struct.pack(
            "<10I16x",
            1_000_000 // fps,  # dwMicroSecPerFrame
            max_frame * fps,  # dwMaxBytesPerSec
            0,  # dwPaddingGranularity
            0x10,  # AVIF_HASINDEX
            n, 0, 1, max_frame, w, h,
        )
        strh = struct.pack(
            "<4s4sIHH8I4h",
            b"vids", b"MJPG", 0, 0, 0, 0,
            1, fps, 0, n, max_frame, 10_000, 0,
            0, 0, w, h,
        )
        strf = struct.pack(
            "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3,
            0, 0, 0, 0,
        )
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        )
        movi_body = b""
        idx_entries = []
        for f in frames:
            # idx1 offsets are relative to the 'movi' fourcc: the first
            # chunk id sits 4 bytes past it
            idx_entries.append((4 + len(movi_body), len(f)))
            movi_body += chunk(b"00dc", f)
        movi = lst(b"movi", movi_body)
        idx1 = chunk(
            b"idx1",
            b"".join(
                b"00dc" + struct.pack("<III", 0x10, off, size)
                for off, size in idx_entries
            ),
        )
        body = b"AVI " + hdrl + movi + idx1
        return b"RIFF" + struct.pack("<I", len(body)) + body

    @staticmethod
    def _parse_avi(payload: bytes):
        """(width, height, fps, [jpeg_frame_bytes...]) for an MJPEG AVI.
        Validates the header/stream frame counts against the movi walk
        AND replays the idx1 index against the actual chunk offsets —
        a reordered, dropped or mis-framed chunk raises instead of
        yielding a plausible frame sequence."""
        import struct

        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI payload")
        riff_size = struct.unpack_from("<I", payload, 4)[0]
        if 8 + riff_size > len(payload):
            raise ValueError("truncated AVI payload")
        avih = None
        strh = None
        frames: list[bytes] = []
        offsets: list[tuple[int, int]] = []
        idx1: list[tuple[int, int]] | None = None
        pos = 12
        end = 8 + riff_size
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            body = payload[pos + 8 : pos + 8 + size]
            if len(body) != size:
                raise ValueError(f"truncated AVI chunk ({cid!r})")
            if cid == b"LIST":
                ltype = body[:4]
                if ltype == b"hdrl":
                    hpos = 4
                    while hpos + 8 <= len(body):
                        hcid, hsize = struct.unpack_from(
                            "<4sI", body, hpos
                        )
                        hbody = body[hpos + 8 : hpos + 8 + hsize]
                        if hcid == b"avih":
                            avih = struct.unpack_from("<10I", hbody, 0)
                        elif hcid == b"LIST" and hbody[:4] == b"strl":
                            scid, ssize = struct.unpack_from(
                                "<4sI", hbody, 4
                            )
                            if scid != b"strh":
                                raise ValueError(
                                    "AVI strl missing strh chunk"
                                )
                            strh = struct.unpack_from(
                                "<4s4sIHH8I", hbody, 12
                            )
                        hpos += 8 + hsize + (hsize & 1)
                elif ltype == b"movi":
                    mpos = 4
                    while mpos + 8 <= len(body):
                        mcid, msize = struct.unpack_from(
                            "<4sI", body, mpos
                        )
                        mbody = body[mpos + 8 : mpos + 8 + msize]
                        if len(mbody) != msize:
                            raise ValueError("truncated AVI movi chunk")
                        if mcid == b"00dc":
                            frames.append(mbody)
                            offsets.append((mpos, msize))
                        mpos += 8 + msize + (msize & 1)
            elif cid == b"idx1":
                if size % 16:
                    raise ValueError("malformed AVI idx1 chunk")
                idx1 = []
                for i in range(size // 16):
                    eid, _flags, off, esize = struct.unpack_from(
                        "<4sIII", body, 16 * i
                    )
                    if eid == b"00dc":
                        idx1.append((off, esize))
            pos += 8 + size + (size & 1)
        if avih is None or strh is None:
            raise ValueError("AVI missing avih or strh header")
        if strh[0] != b"vids" or strh[1] != b"MJPG":
            raise ValueError("only MJPG video AVI supported")
        # strh tuple: fccType, handler, flags, priority, language,
        # initialFrames, scale, rate, start, length, buf, quality, size
        scale, rate = strh[6], strh[7]
        if scale == 0 or rate == 0:
            raise ValueError("malformed AVI stream timing")
        n_frames, w, h = avih[4], avih[8], avih[9]
        if len(frames) != n_frames or strh[9] != n_frames:
            raise ValueError("AVI frame count disagrees with headers")
        if idx1 is None:
            raise ValueError("AVI missing idx1 index")
        if idx1 != offsets:
            raise ValueError("AVI idx1 disagrees with movi chunk layout")
        return w, h, rate // scale, frames

    # -- JPEG helpers (baseline sequential, ITU-T T.81) -------------------
    # zigzag scan: stream position k holds raster index _JPEG_ZIGZAG[k].
    # Generated, not transcribed (the classic anti-diagonal walk), so a
    # copy error is impossible.
    @staticmethod
    def _zigzag_order() -> list[int]:
        order, x, y = [], 0, 0
        for _ in range(64):
            order.append(y * 8 + x)
            if (x + y) % 2 == 0:  # walking up-right
                if x == 7:
                    y += 1
                elif y == 0:
                    x += 1
                else:
                    x, y = x + 1, y - 1
            else:  # walking down-left
                if y == 7:
                    x += 1
                elif x == 0:
                    y += 1
                else:
                    x, y = x - 1, y + 1
        return order

    # orthonormal 8x8 DCT-II basis: F = M @ (block-128) @ M.T, inverse
    # block = M.T @ F @ M (separable float IDCT; for the DC-only blocks
    # the certified synth corpus uses, the result is integer-exact)
    @staticmethod
    def _dct_matrix() -> np.ndarray:
        import math

        m = np.zeros((8, 8))
        for u in range(8):
            c = math.sqrt(1 / 8) if u == 0 else 0.5
            for x in range(8):
                m[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
        return m

    # canonical Huffman specs carried in DHT (the decoder reads them
    # from the file — any valid table works, so these are generated,
    # not transcribed from Annex K): 12 DC size categories at 5 bits,
    # all 178 AC (run,size) symbols + EOB + ZRL at 9 bits.
    @staticmethod
    def _huff_specs() -> tuple[tuple[list[int], list[int]], tuple[list[int], list[int]]]:
        dc_bits = [0] * 16
        dc_bits[4] = 12  # 12 symbols of code length 5 (index 4 = len 5)
        dc_vals = list(range(12))
        ac_vals = sorted(
            [0x00, 0xF0]
            + [(r << 4) | s for r in range(16) for s in range(1, 12)]
        )
        ac_bits = [0] * 16
        ac_bits[8] = len(ac_vals)  # all at code length 9
        return (dc_bits, dc_vals), (ac_bits, ac_vals)

    # progressive AC table additionally needs the EOBn symbols
    # ((r << 4) | 0 for r = 1..14): progressive scans code runs of
    # all-zero-band blocks as one EOBn + r extra bits. 192 symbols all
    # at 9 bits — max canonical code 191 < 511, so the reserved
    # all-ones pattern never occurs.
    @staticmethod
    def _huff_specs_progressive() -> tuple[
        tuple[list[int], list[int]], tuple[list[int], list[int]]
    ]:
        dc_bits = [0] * 16
        dc_bits[4] = 12
        dc_vals = list(range(12))
        ac_vals = sorted(
            [r << 4 for r in range(15)]  # EOB0..EOB14
            + [0xF0]
            + [(r << 4) | s for r in range(16) for s in range(1, 12)]
        )
        ac_bits = [0] * 16
        ac_bits[8] = len(ac_vals)
        return (dc_bits, dc_vals), (ac_bits, ac_vals)

    @staticmethod
    def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
        """Canonical assignment: symbol -> (code, length)."""
        out: dict[int, tuple[int, int]] = {}
        code, k = 0, 0
        for i, n in enumerate(bits):
            for _ in range(n):
                out[vals[k]] = (code, i + 1)
                code += 1
                k += 1
            code <<= 1
        return out

    # libjpeg-style 16.16 fixed-point YCbCr->RGB: pure int64 arithmetic
    # (arithmetic >>16 == floor division), replayable bit-for-bit in a
    # SQL oracle via floor((...)/65536.0)
    @staticmethod
    def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
        yy = y.astype(np.int64) << 16
        cb1 = cb.astype(np.int64) - 128
        cr1 = cr.astype(np.int64) - 128
        half = 32768
        r = (yy + 91881 * cr1 + half) >> 16
        g = (yy - 22554 * cb1 - 46802 * cr1 + half) >> 16
        b = (yy + 116130 * cb1 + half) >> 16
        return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)

    # BT.601 full-range forward transform, same 16.16 fixed-point style
    # as _ycbcr_to_rgb (luma weights sum to exactly 65536)
    @staticmethod
    def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        r = px[:, :, 0].astype(np.int64)
        g = px[:, :, 1].astype(np.int64)
        b = px[:, :, 2].astype(np.int64)
        half = 32768
        y = (19595 * r + 38470 * g + 7471 * b + half) >> 16
        cb = ((-11059 * r - 21709 * g + 32768 * b + half) >> 16) + 128
        cr = ((32768 * r - 27439 * g - 5329 * b + half) >> 16) + 128
        clip = lambda p: np.clip(p, 0, 255).astype(np.uint8)  # noqa: E731
        return clip(y), clip(cb), clip(cr)

    @classmethod
    def _encode_jpeg(
        cls,
        y_plane: np.ndarray,
        cb_plane: np.ndarray | None = None,
        cr_plane: np.ndarray | None = None,
        subsampling: str = "444",
        restart_interval: int = 0,
    ) -> bytes:
        """Baseline sequential JPEG encoder (quant tables all ones ==
        max quality). Takes YCbCr planes directly — gray when cb/cr are
        None; for '420' the chroma planes arrive at half resolution —
        so a generator can pin the exact coefficients the decoder must
        recover (RGB<->YCbCr never enters the certified path). Planes
        are edge-padded to MCU multiples like any real encoder.
        ``restart_interval`` > 0 emits a DRI segment and RSTn markers
        every that many MCUs (byte-aligned, DC predictors reset) — the
        form real encoders emit for error resilience, exercising the
        decoder's restart path."""
        import struct

        zz = cls._zigzag_order()
        m = cls._dct_matrix()
        (dc_bits, dc_vals), (ac_bits, ac_vals) = cls._huff_specs()
        dc_code = cls._huff_codes(dc_bits, dc_vals)
        ac_code = cls._huff_codes(ac_bits, ac_vals)
        gray = cb_plane is None
        h, w = y_plane.shape
        if subsampling not in ("444", "420"):
            raise ValueError("encoder supports 4:4:4 and 4:2:0 only")
        sub = 1 if (gray or subsampling == "444") else 2

        def pad_to(a: np.ndarray, mult: int) -> np.ndarray:
            ph = (-a.shape[0]) % mult
            pw = (-a.shape[1]) % mult
            return np.pad(a, ((0, ph), (0, pw)), mode="edge") if ph or pw else a

        yp = pad_to(np.asarray(y_plane, dtype=np.uint8), 8 * sub)
        comps: list[tuple[np.ndarray, int]] = [(yp, sub)]  # (plane, h=v factor)
        if not gray:
            ch_mult = 8  # chroma blocks are never subsampled further
            comps.append((pad_to(np.asarray(cb_plane, np.uint8), ch_mult), 1))
            comps.append((pad_to(np.asarray(cr_plane, np.uint8), ch_mult), 1))
            if comps[1][0].shape != (yp.shape[0] // sub, yp.shape[1] // sub):
                raise ValueError("chroma plane shape mismatch for subsampling")

        # bit writer with 0xFF byte stuffing
        out = bytearray()
        acc, nbits = 0, 0

        def put(code: int, length: int) -> None:
            nonlocal acc, nbits
            acc = (acc << length) | (code & ((1 << length) - 1))
            nbits += length
            while nbits >= 8:
                nbits -= 8
                byte = (acc >> nbits) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)

        def put_val(v: int) -> None:
            size = int(v).bit_length() if v > 0 else int(-v).bit_length()
            if v < 0:
                v += (1 << size) - 1
            c, ln = dc_code[size] if _dc else ac_code[(run << 4) | size]
            put(c, ln)
            if size:
                put(v, size)

        def fdct_quant(block: np.ndarray) -> list[int]:
            f = m @ (block.astype(np.float64) - 128.0) @ m.T
            q = np.round(f).astype(np.int64)  # quant table all ones
            return [int(q.flat[zz[k]]) for k in range(64)]

        def byte_align() -> None:
            nonlocal acc, nbits
            if nbits:
                pad = 8 - nbits
                put((1 << pad) - 1, pad)  # pad with 1s per the spec

        pred = [0] * len(comps)
        mcus_y = yp.shape[0] // (8 * sub)
        mcus_x = yp.shape[1] // (8 * sub)
        run = 0
        mcu_idx = 0
        rst = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_idx and (
                    mcu_idx % restart_interval == 0
                ):
                    byte_align()
                    # markers are raw bytes, never byte-stuffed
                    out.extend((0xFF, 0xD0 + rst % 8))
                    rst += 1
                    pred = [0] * len(comps)
                mcu_idx += 1
                for ci, (plane, fac) in enumerate(comps):
                    for by in range(fac):
                        for bx in range(fac):
                            r0 = (my * fac + by) * 8
                            c0 = (mx * fac + bx) * 8
                            coeffs = fdct_quant(
                                plane[r0 : r0 + 8, c0 : c0 + 8]
                            )
                            _dc = True
                            put_val(coeffs[0] - pred[ci])
                            pred[ci] = coeffs[0]
                            _dc = False
                            run = 0
                            nz = [k for k in range(1, 64) if coeffs[k]]
                            last = nz[-1] if nz else 0
                            for k in range(1, last + 1):
                                v = coeffs[k]
                                if v == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    c, ln = ac_code[0xF0]
                                    put(c, ln)
                                    run -= 16
                                put_val(v)
                                run = 0
                            if last < 63:
                                c, ln = ac_code[0x00]
                                put(c, ln)
        if nbits:
            put(0xFF, 8 - nbits)  # pad with 1s (may stuff — harmless)

        def seg(marker: int, body: bytes) -> bytes:
            return struct.pack(">HH", marker, len(body) + 2) + body

        dqt = seg(0xFFDB, b"\x00" + bytes([1] * 64))
        dri = (
            seg(0xFFDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        ncomp = 1 if gray else 3
        sof_comps = b""
        for i in range(ncomp):
            fac = sub if i == 0 else 1
            sof_comps += bytes([i + 1, (fac << 4) | fac, 0])
        sof = seg(
            0xFFC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps
        )
        dht = seg(
            0xFFC4,
            b"\x00" + bytes(dc_bits) + bytes(dc_vals)
            + b"\x10" + bytes(ac_bits) + bytes(ac_vals),
        )
        sos = seg(
            0xFFDA,
            bytes([ncomp])
            + b"".join(bytes([i + 1, 0x00]) for i in range(ncomp))
            + b"\x00\x3f\x00",
        )
        return (
            b"\xff\xd8" + dqt + dri + sof + dht + sos + bytes(out)
            + b"\xff\xd9"
        )

    @classmethod
    def _encode_jpeg_progressive(
        cls,
        y_plane: np.ndarray,
        cb_plane: np.ndarray | None = None,
        cr_plane: np.ndarray | None = None,
    ) -> bytes:
        """Progressive JPEG encoder (SOF2, spectral selection +
        successive approximation — the standard web scan script shape):
        one interleaved DC-first scan (Al=1), a DC refinement scan,
        then per-component AC-first (Ss=1..63, Al=1) and AC-refinement
        scans with EOBn run coding and buffered correction bits. Gray
        or YCbCr 4:4:4 (all sampling factors 1); unit quant tables, so
        constant blocks survive the full 4/8-scan pipeline bit-exactly
        (the certified-oracle property, same as the baseline twin)."""
        import struct

        zz = cls._zigzag_order()
        m = cls._dct_matrix()
        (dc_bits, dc_vals), (ac_bits, ac_vals) = (
            cls._huff_specs_progressive()
        )
        dc_code = cls._huff_codes(dc_bits, dc_vals)
        ac_code = cls._huff_codes(ac_bits, ac_vals)
        gray = cb_plane is None
        h, w = y_plane.shape

        def pad8(a: np.ndarray) -> np.ndarray:
            ph, pw = (-a.shape[0]) % 8, (-a.shape[1]) % 8
            return (
                np.pad(a, ((0, ph), (0, pw)), mode="edge")
                if ph or pw
                else a
            )

        planes = [pad8(np.asarray(y_plane, np.uint8))]
        if not gray:
            planes.append(pad8(np.asarray(cb_plane, np.uint8)))
            planes.append(pad8(np.asarray(cr_plane, np.uint8)))
            if not all(p.shape == planes[0].shape for p in planes):
                raise ValueError("4:4:4 planes must share dimensions")
        bh, bw = planes[0].shape[0] // 8, planes[0].shape[1] // 8
        coefs = []
        for p in planes:
            c = np.zeros((bh, bw, 64), np.int64)
            for by in range(bh):
                for bx in range(bw):
                    f = (
                        m
                        @ (
                            p[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8]
                            .astype(np.float64)
                            - 128.0
                        )
                        @ m.T
                    )
                    q = np.round(f).astype(np.int64)
                    c[by, bx] = [q.flat[zz[k]] for k in range(64)]
            coefs.append(c)
        ncomp = len(planes)

        class _Scan:
            """Per-scan bit emitter with 0xFF stuffing + 1-padding."""

            def __init__(self) -> None:
                self.out = bytearray()
                self.acc = 0
                self.n = 0

            def put(self, code: int, length: int) -> None:
                self.acc = (self.acc << length) | (
                    code & ((1 << length) - 1)
                )
                self.n += length
                while self.n >= 8:
                    self.n -= 8
                    byte = (self.acc >> self.n) & 0xFF
                    self.out.append(byte)
                    if byte == 0xFF:
                        self.out.append(0x00)

            def done(self) -> bytes:
                if self.n:
                    self.put(0xFF, 8 - self.n)
                return bytes(self.out)

        def put_sized(s: _Scan, code_map, prefix_sym: int, v: int) -> None:
            size = (v if v > 0 else -v).bit_length()
            c, ln = code_map[prefix_sym | size]
            s.put(c, ln)
            if size:
                s.put(v + (1 << size) - 1 if v < 0 else v, size)

        scans: list[tuple[bytes, bytes]] = []  # (sos body, entropy)

        def sos_body(comp_ids, ss, se, ah, al) -> bytes:
            return (
                bytes([len(comp_ids)])
                + b"".join(bytes([cid, 0x00]) for cid in comp_ids)
                + bytes([ss, se, (ah << 4) | al])
            )

        # scan 1: interleaved DC first pass, Al=1 (arithmetic shift)
        s = _Scan()
        pred = [0] * ncomp
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ncomp):
                    v = int(coefs[ci][by, bx, 0]) >> 1
                    put_sized(s, dc_code, 0, v - pred[ci])
                    pred[ci] = v
        scans.append((sos_body(range(1, ncomp + 1), 0, 0, 0, 1), s.done()))

        # scan 2: DC refinement, bit 0, raw bits (no huffman)
        s = _Scan()
        for by in range(bh):
            for bx in range(bw):
                for ci in range(ncomp):
                    s.put(int(coefs[ci][by, bx, 0]) & 1, 1)
        scans.append((sos_body(range(1, ncomp + 1), 0, 0, 1, 0), s.done()))

        # per component: AC first pass (Al=1), then AC refinement
        for ci in range(ncomp):
            s = _Scan()
            eobrun = 0

            def flush_eob() -> None:
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    c, ln = ac_code[r << 4]
                    s.put(c, ln)
                    if r:
                        s.put(eobrun - (1 << r), r)
                    eobrun = 0

            for by in range(bh):
                for bx in range(bw):
                    band = coefs[ci][by, bx]
                    vals = [
                        (abs(int(band[k])) >> 1)
                        * (1 if band[k] >= 0 else -1)
                        for k in range(64)
                    ]
                    nz = [k for k in range(1, 64) if vals[k]]
                    if not nz:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
                        continue
                    flush_eob()
                    run = 0
                    for k in range(1, nz[-1] + 1):
                        if vals[k] == 0:
                            run += 1
                            continue
                        while run > 15:
                            c, ln = ac_code[0xF0]
                            s.put(c, ln)
                            run -= 16
                        put_sized(s, ac_code, run << 4, vals[k])
                        run = 0
                    if nz[-1] < 63:
                        eobrun += 1
            flush_eob()
            scans.append((sos_body([ci + 1], 1, 63, 0, 1), s.done()))

        for ci in range(ncomp):
            s = _Scan()
            eobrun = 0
            eob_bits: list[int] = []  # corrections buffered across EOBs

            def flush_eob_refine() -> None:
                nonlocal eobrun, eob_bits
                if eobrun:
                    r = eobrun.bit_length() - 1
                    c, ln = ac_code[r << 4]
                    s.put(c, ln)
                    if r:
                        s.put(eobrun - (1 << r), r)
                    eobrun = 0
                for b in eob_bits:
                    s.put(b, 1)
                eob_bits = []

            for by in range(bh):
                for bx in range(bw):
                    band = coefs[ci][by, bx]
                    absv = [abs(int(band[k])) for k in range(64)]
                    eob_k = 0
                    for k in range(1, 64):
                        if absv[k] == 1:
                            eob_k = k
                    run = 0
                    pend: list[int] = []  # corrections since last symbol
                    for k in range(1, 64):
                        t = absv[k]
                        if t == 0:
                            run += 1
                            continue
                        while run > 15 and k <= eob_k:
                            flush_eob_refine()
                            c, ln = ac_code[0xF0]
                            s.put(c, ln)
                            run -= 16
                            for b in pend:
                                s.put(b, 1)
                            pend = []
                        if t > 1:  # history-nonzero: buffer correction
                            pend.append(t & 1)
                            continue
                        flush_eob_refine()
                        c, ln = ac_code[(run << 4) | 1]
                        s.put(c, ln)
                        s.put(1 if band[k] > 0 else 0, 1)
                        for b in pend:
                            s.put(b, 1)
                        pend = []
                        run = 0
                    if run > 0 or pend:
                        eobrun += 1
                        eob_bits.extend(pend)
                        if eobrun == 0x7FFF or len(eob_bits) > 900:
                            flush_eob_refine()
            flush_eob_refine()
            scans.append((sos_body([ci + 1], 1, 63, 1, 0), s.done()))

        def seg(marker: int, body: bytes) -> bytes:
            return struct.pack(">HH", marker, len(body) + 2) + body

        dqt = seg(0xFFDB, b"\x00" + bytes([1] * 64))
        sof_comps = b"".join(
            bytes([i + 1, 0x11, 0]) for i in range(ncomp)
        )
        sof = seg(
            0xFFC2, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps
        )
        dht = seg(
            0xFFC4,
            b"\x00" + bytes(dc_bits) + bytes(dc_vals)
            + b"\x10" + bytes(ac_bits) + bytes(ac_vals),
        )
        body = b"".join(
            seg(0xFFDA, sb) + ent for sb, ent in scans
        )
        return b"\xff\xd8" + dqt + sof + dht + body + b"\xff\xd9"

    @classmethod
    def _parse_jpeg(cls, payload: bytes):
        """(width, height, pixel_array[h, w, ch]) for baseline
        sequential JPEG (SOF0): marker walk, up to 4 quant / 8 Huffman
        tables from DQT/DHT, restart-interval support, per-MCU Huffman
        decode, dequantize + de-zigzag, separable float IDCT, nearest
        chroma upsample, fixed-point YCbCr->RGB for 3-component scans.
        Progressive (SOF2) decodes through the multi-scan coefficient
        accumulator (_jpeg_progressive_scan). Arithmetic coding and the
        other SOFn variants are rejected loudly — this codec never
        fakes a result."""
        import struct

        if payload[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG payload")
        zz = cls._zigzag_order()
        m = cls._dct_matrix()
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
        frame = None  # (h, w, [(comp_id, hf, vf, tq)])
        progressive = False
        coef_store: dict[int, np.ndarray] = {}  # cid -> (bh, bw, 64)
        restart_interval = 0
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("JPEG marker sync lost")
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                if progressive and coef_store:
                    return cls._jpeg_progressive_reconstruct(
                        frame, coef_store, qt, zz, m
                    )
                break
            if pos + 4 > len(payload):
                raise ValueError("truncated JPEG segment header")
            length = struct.unpack_from(">H", payload, pos + 2)[0]
            body = payload[pos + 4 : pos + 2 + length]
            if len(body) != length - 2:
                raise ValueError("truncated JPEG segment")
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0xF
                    if pq != 0:
                        raise ValueError("only 8-bit quant tables supported")
                    qt[tq] = np.frombuffer(
                        body, np.uint8, 64, i + 1
                    ).astype(np.int32)
                    i += 65
            elif marker == 0xC4:  # DHT: canonical (bits, vals) tables
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1 : i + 17])
                    nv = sum(bits)
                    vals = list(body[i + 17 : i + 17 + nv])
                    table: dict[tuple[int, int], int] = {}
                    code, k = 0, 0
                    for ln_i, n in enumerate(bits):
                        for _ in range(n):
                            table[(ln_i + 1, code)] = vals[k]
                            code += 1
                            k += 1
                        code <<= 1
                    huff[(tc, th)] = table
                    i += 17 + nv
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
                if prec != 8:
                    raise ValueError("only 8-bit JPEG supported")
                comps = []
                for c in range(nc):
                    cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                    comps.append((cid, hv >> 4, hv & 0xF, tq))
                frame = (fh, fw, comps)
                progressive = marker == 0xC2
                if progressive and any(
                    c[1] != 1 or c[2] != 1 for c in comps
                ):
                    raise NotImplementedError(
                        "progressive JPEG with subsampling not supported"
                    )
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    "only baseline (SOF0) and progressive (SOF2) "
                    "JPEG supported"
                )
            elif marker == 0xDD:  # DRI
                restart_interval = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xDA:  # SOS — entropy data follows
                if frame is None:
                    raise ValueError("JPEG SOS before SOF")
                ns = body[0]
                scan_tables = {}
                scan_comp_ids = []
                for c in range(ns):
                    cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                    scan_tables[cid] = (tt >> 4, tt & 0xF)
                    scan_comp_ids.append(cid)
                if not progressive:
                    return cls._jpeg_scan(
                        payload, pos + 2 + length, frame, qt, huff,
                        scan_tables, restart_interval, zz, m,
                    )
                if restart_interval:
                    raise NotImplementedError(
                        "progressive JPEG with restart markers not "
                        "supported"
                    )
                ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
                aa = body[3 + 2 * ns]
                pos = cls._jpeg_progressive_scan(
                    payload, pos + 2 + length, frame, coef_store,
                    huff, scan_tables, scan_comp_ids, ss, se,
                    aa >> 4, aa & 0xF,
                )
                continue
            # APPn / COM / other known-length segments: skip
            pos += 2 + length
        raise ValueError("JPEG missing SOS scan")

    @classmethod
    def _jpeg_progressive_scan(
        cls, payload, start, frame, coef_store, huff, scan_tables,
        scan_comp_ids, ss, se, ah, al,
    ) -> int:
        """Decode ONE progressive scan into the per-component
        coefficient store (T.81 G.2: spectral selection + successive
        approximation, DC first/refine + AC first/refine with EOBn
        runs and correction bits). All sampling factors are 1 (guarded
        at SOF2), so interleaved MCUs and non-interleaved block walks
        share the frame-wide block grid. Returns the byte position of
        the next marker."""
        fh, fw, comps = frame
        bh, bw = -(-fh // 8), -(-fw // 8)
        for cid, *_ in comps:
            if cid not in coef_store:
                coef_store[cid] = np.zeros((bh, bw, 64), np.int64)

        # entropy segment ends at the first non-stuffed marker byte
        end = start
        while end + 1 < len(payload):
            if payload[end] == 0xFF and payload[end + 1] != 0x00:
                break
            end += 1
        else:
            raise ValueError("truncated progressive JPEG scan")

        pos = start
        acc, nbits = 0, 0

        def read_bit() -> int:
            nonlocal pos, acc, nbits
            if nbits == 0:
                if pos >= end:
                    raise ValueError("truncated JPEG entropy stream")
                byte = payload[pos]
                pos += 1
                if byte == 0xFF:
                    pos += 1  # the stuffed 0x00 (markers end the slice)
                acc, nbits = byte, 8
            nbits -= 1
            return (acc >> nbits) & 1

        def read_bits(n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def decode_sym(table) -> int:
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | read_bit()
                ln += 1
                sym = table.get((ln, code))
                if sym is not None:
                    return sym
            raise ValueError("invalid JPEG Huffman code")

        def extend(v: int, size: int) -> int:
            return v - (1 << size) + 1 if v < (1 << (size - 1)) else v

        if ss == 0:  # DC scan (interleaved over the scan's components)
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            if ah == 0:  # first pass
                pred = {cid: 0 for cid in scan_comp_ids}
                for by in range(bh):
                    for bx in range(bw):
                        for cid in scan_comp_ids:
                            tab = huff.get((0, scan_tables[cid][0]))
                            if tab is None:
                                raise ValueError("missing DC DHT")
                            size = decode_sym(tab)
                            diff = (
                                extend(read_bits(size), size)
                                if size
                                else 0
                            )
                            pred[cid] += diff
                            coef_store[cid][by, bx, 0] = pred[cid] << al
            else:  # refinement: one raw bit per block
                for by in range(bh):
                    for bx in range(bw):
                        for cid in scan_comp_ids:
                            if read_bit():
                                coef_store[cid][by, bx, 0] |= 1 << al
            return end

        # AC scans are non-interleaved: exactly one component
        if len(scan_comp_ids) != 1:
            raise ValueError("progressive AC scan must be single-component")
        cid = scan_comp_ids[0]
        tab = huff.get((1, scan_tables[cid][1]))
        if tab is None:
            raise ValueError("missing AC DHT")
        coef = coef_store[cid]
        if ah == 0:  # AC first pass
            eobrun = 0
            for by in range(bh):
                for bx in range(bw):
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = decode_sym(tab)
                        r, s_ = sym >> 4, sym & 0xF
                        if s_ == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += read_bits(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("JPEG AC index overflow")
                        coef[by, bx, k] = (
                            extend(read_bits(s_), s_) << al
                        )
                        k += 1
            return end

        # AC refinement pass
        p1, m1 = 1 << al, -1 << al
        eobrun = 0
        for by in range(bh):
            for bx in range(bw):
                band = coef[by, bx]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = decode_sym(tab)
                        r, s_ = sym >> 4, sym & 0xF
                        if s_ == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += read_bits(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coeffs
                        else:
                            if s_ != 1:
                                raise ValueError(
                                    "invalid refinement magnitude"
                                )
                            val = p1 if read_bit() else m1
                        while k <= se:
                            if band[k] != 0:
                                if read_bit() and not (band[k] & p1):
                                    band[k] += p1 if band[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            band[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if band[k] != 0 and read_bit() and not (
                            band[k] & p1
                        ):
                            band[k] += p1 if band[k] >= 0 else m1
                        k += 1
                    eobrun -= 1
        return end

    @classmethod
    def _jpeg_progressive_reconstruct(cls, frame, coef_store, qt, zz, m):
        """IDCT the accumulated coefficient store after the final scan
        (all factors 1: one plane per component at frame resolution)."""
        fh, fw, comps = frame
        bh, bw = -(-fh // 8), -(-fw // 8)
        full = []
        for cid, _hf, _vf, tq in comps:
            q = qt[tq]
            coef = coef_store.get(cid)
            if coef is None:
                raise ValueError("progressive JPEG missing component scan")
            plane = np.zeros((bh * 8, bw * 8), np.uint8)
            for by in range(bh):
                for bx in range(bw):
                    deq = coef[by, bx] * q
                    block = np.zeros((8, 8))
                    for j in range(64):
                        block.flat[zz[j]] = deq[j]
                    px = m.T @ block @ m
                    plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = (
                        np.clip(np.round(px) + 128, 0, 255).astype(
                            np.uint8
                        )
                    )
            full.append(plane[:fh, :fw])
        if len(full) == 1:
            return fw, fh, full[0][:, :, None]
        if len(full) == 3:
            return fw, fh, cls._ycbcr_to_rgb(*full)
        raise ValueError("unsupported JPEG component count")

    @classmethod
    def _jpeg_scan(
        cls, payload, start, frame, qt, huff, scan_tables,
        restart_interval, zz, m,
    ):
        fh, fw, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcus_x = -(-fw // (8 * hmax))
        mcus_y = -(-fh // (8 * vmax))
        planes = {
            cid: np.zeros((mcus_y * vf * 8, mcus_x * hf * 8), np.uint8)
            for cid, hf, vf, _ in comps
        }

        # bit reader over the entropy stream with 0xFF00 unstuffing
        pos = start
        acc, nbits = 0, 0

        def read_bit() -> int:
            nonlocal pos, acc, nbits
            if nbits == 0:
                if pos >= len(payload):
                    raise ValueError("truncated JPEG entropy stream")
                byte = payload[pos]
                pos += 1
                if byte == 0xFF:
                    nxt = payload[pos] if pos < len(payload) else None
                    if nxt == 0x00:
                        pos += 1
                    else:
                        raise ValueError("unexpected marker in JPEG scan")
                acc, nbits = byte, 8
            nbits -= 1
            return (acc >> nbits) & 1

        def read_bits(n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def decode_sym(table: dict[tuple[int, int], int]) -> int:
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | read_bit()
                ln += 1
                sym = table.get((ln, code))
                if sym is not None:
                    return sym
            raise ValueError("invalid JPEG Huffman code")

        def extend(v: int, size: int) -> int:
            return v - (1 << size) + 1 if v < (1 << (size - 1)) else v

        pred = {cid: 0 for cid, *_ in comps}
        mcu_count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and (
                    mcu_count % restart_interval == 0
                ):
                    # byte-align and consume RSTn, reset DC predictors.
                    # Residual bytes may precede the marker: the
                    # encoder's 1-padded final byte (possibly 0xFF, in
                    # which case a stuffed 0x00 follows) and optional
                    # 0xFF fill — scan the few bytes to the marker.
                    acc, nbits = 0, 0
                    scan_start = pos
                    while pos + 1 < len(payload) and not (
                        payload[pos] == 0xFF
                        and 0xD0 <= payload[pos + 1] <= 0xD7
                    ):
                        pos += 1
                        if pos - scan_start > 4:
                            raise ValueError("missing JPEG restart marker")
                    if pos + 1 >= len(payload):
                        raise ValueError("missing JPEG restart marker")
                    pos += 2
                    pred = {cid: 0 for cid, *_ in comps}
                mcu_count += 1
                for cid, hf, vf, tq in comps:
                    dc_tab = huff.get((0, scan_tables[cid][0]))
                    ac_tab = huff.get((1, scan_tables[cid][1]))
                    if dc_tab is None or ac_tab is None:
                        raise ValueError("JPEG scan references missing DHT")
                    q = qt[tq]
                    for by in range(vf):
                        for bx in range(hf):
                            coeffs = np.zeros(64, np.int64)
                            size = decode_sym(dc_tab)
                            diff = extend(read_bits(size), size) if size else 0
                            pred[cid] += diff
                            coeffs[0] = pred[cid]
                            k = 1
                            while k < 64:
                                sym = decode_sym(ac_tab)
                                if sym == 0x00:  # EOB
                                    break
                                if sym == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += sym >> 4
                                s = sym & 0xF
                                if k > 63:
                                    raise ValueError("JPEG AC index overflow")
                                coeffs[k] = extend(read_bits(s), s)
                                k += 1
                            block = np.zeros((8, 8))
                            deq = coeffs * q
                            for j in range(64):
                                block.flat[zz[j]] = deq[j]
                            px = m.T @ block @ m
                            px = np.clip(np.round(px) + 128, 0, 255)
                            r0 = (my * vf + by) * 8
                            c0 = (mx * hf + bx) * 8
                            planes[cid][r0 : r0 + 8, c0 : c0 + 8] = (
                                px.astype(np.uint8)
                            )
        # upsample each component to full MCU-grid resolution, crop
        full = []
        for cid, hf, vf, _ in comps:
            p = planes[cid]
            if hf < hmax or vf < vmax:
                p = np.repeat(np.repeat(p, vmax // vf, 0), hmax // hf, 1)
            full.append(p[:fh, :fw])
        if len(full) == 1:
            return fw, fh, full[0][:, :, None]
        if len(full) == 3:
            return fw, fh, cls._ycbcr_to_rgb(*full)
        raise ValueError("unsupported JPEG component count")

    def pixels(self, payload: bytes) -> np.ndarray:
        """Decoded pixel array [h, w, channels] for raster payloads —
        the seam the per-channel statistics stage consumes (overall
        mean hides channel-interleave bugs; this exposes them)."""
        if payload[:2] in (b"P5", b"P6"):
            return self._parse_netpbm(payload)[4]
        if payload[:2] == b"BM":
            return self._parse_bmp(payload)[2]
        if payload[:8] == self._PNG_SIG:
            return self._parse_png(payload)[2]
        if payload[:2] == b"\xff\xd8":
            return self._parse_jpeg(payload)[2]
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            _, _, idx, pal = self._parse_gif(payload)
            return pal[idx]  # palette lookup -> [h, w, 3]
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return self._parse_tiff(payload)[2]
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return self._parse_webp(payload)[2]
        raise ValueError("unsupported raster format for PixmapCodec")

    def pcm(self, payload: bytes) -> np.ndarray:
        """Channel-0 int16 sample vector for audio payloads — the seam
        the audio-fingerprint stage consumes (a fingerprint over one
        channel is the standard robust-hash input; stereo files
        fingerprint their first channel)."""
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            _frames, channels, samples = self._parse_wav(payload)
            return np.asarray(samples, dtype=np.int16)[0::channels]
        if payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
            _f, channels, samples, _rate = self._parse_aiff(payload)
            return np.asarray(samples, dtype=np.int16)[0::channels]
        if payload[:4] == b"fLaC":
            _f, channels, samples, _rate = self._parse_flac(payload)
            return np.asarray(samples, dtype=np.int16)[0::channels]
        raise ValueError("unsupported audio format for PixmapCodec")

    # -- Codec protocol --------------------------------------------------
    def decode(self, payload: bytes, media_type: str) -> tuple[int, int, float]:
        del media_type
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            w, h, px = self._parse_webp(payload)
            return w, h, float(px.mean())
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            frames, channels, samples = self._parse_wav(payload)
            return frames, channels, float(
                np.abs(samples.astype(np.int64)).mean()
            )
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            w, h, _fps, jpegs = self._parse_avi(payload)
            total = 0
            count = 0
            for j in jpegs:
                fw, fh, px = self._parse_jpeg(j)
                if (fw, fh) != (w, h):
                    raise ValueError("AVI frame dims disagree with header")
                total += int(px.astype(np.int64).sum())
                count += px.size
            return w, h, total / count if count else 0.0
        if payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
            frames, channels, samples, _rate = self._parse_aiff(payload)
            return frames, channels, float(
                np.abs(samples.astype(np.int64)).mean()
            )
        if payload[:4] == b"fLaC":
            frames, channels, samples, _rate = self._parse_flac(payload)
            return frames, channels, float(
                np.abs(samples.astype(np.int64)).mean()
            )
        if payload[:2] in (b"P5", b"P6"):
            _, w, h, _, px = self._parse_netpbm(payload)
            return w, h, float(px.mean())
        if payload[:2] == b"BM":
            w, h, px = self._parse_bmp(payload)
            return w, h, float(px.mean())
        if payload[:8] == self._PNG_SIG:
            w, h, px = self._parse_png(payload)
            return w, h, float(px.mean())
        if payload[:2] == b"\xff\xd8":
            w, h, px = self._parse_jpeg(payload)
            return w, h, float(px.mean())
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h, idx, pal = self._parse_gif(payload)
            return w, h, float(pal[idx].mean())
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            w, h, px = self._parse_tiff(payload)
            return w, h, float(px.mean())
        if payload[:9] == b"YUV4MPEG2":
            # video decode: walk every frame, report (w, h, mean over
            # ALL plane bytes across frames) — the per-frame stages use
            # frames(); this is the whole-asset intensity summary
            frames = self.frames(payload, 0, 0)
            nl = payload.index(b"\n")
            params = dict(
                (p[0], p[1:])
                for p in payload[:nl].decode("ascii").split(" ")[1:]
                if p
            )
            w, h = int(params["W"]), int(params["H"])
            data = np.frombuffer(
                b"".join(f[2] for f in frames), dtype=np.uint8
            )
            return w, h, float(data.mean())
        raise ValueError("unsupported payload format for PixmapCodec")

    def resize(
        self, payload: bytes, target_width: int, target_height: int
    ) -> bytes:
        def _nn(px: np.ndarray) -> np.ndarray:
            h, w = px.shape[:2]
            ri = (np.arange(target_height) * h) // target_height
            ci = (np.arange(target_width) * w) // target_width
            return np.ascontiguousarray(px[ri][:, ci])

        if payload[:2] in (b"P5", b"P6"):
            magic, _, _, _, px = self._parse_netpbm(payload)
            return self._encode_netpbm(magic, _nn(px))
        if payload[:2] == b"BM":
            _, _, px = self._parse_bmp(payload)
            return self._encode_bmp(_nn(px))
        if payload[:8] == self._PNG_SIG:
            _, _, px = self._parse_png(payload)
            return self._encode_png(_nn(px))
        if payload[:2] == b"\xff\xd8":
            _, _, px = self._parse_jpeg(payload)
            rs = _nn(px)
            if rs.shape[2] == 1:
                return self._encode_jpeg(rs[:, :, 0])
            # decoded JPEG is RGB — forward-transform (fixed-point
            # BT.601) and re-encode 4:4:4 at max quality
            return self._encode_jpeg(
                *self._rgb_to_ycbcr(rs), subsampling="444"
            )
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            # resample on the INDEX grid and keep the original palette:
            # exact (no re-quantization), interlace not re-applied
            _, _, idx, pal = self._parse_gif(payload)
            return self._encode_gif(_nn(idx[:, :, None])[:, :, 0], pal)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            _, _, px = self._parse_tiff(payload)
            return self._encode_tiff(_nn(px))
        raise ValueError("unsupported payload format for PixmapCodec")

    def frames(
        self, payload: bytes, duration_ms: int, every_ms: int
    ) -> list[tuple[int, int, bytes]]:
        """Y4M stream → every_ms-spaced raw 4:2:0 frames. duration_ms is
        ignored (the stream header carries the real frame rate)."""
        nl = payload.index(b"\n")
        header = payload[:nl].decode("ascii", "strict")
        if not header.startswith("YUV4MPEG2"):
            raise ValueError("not a YUV4MPEG2 payload")
        params = dict(
            (p[0], p[1:]) for p in header.split(" ")[1:] if p
        )
        w, h = int(params["W"]), int(params["H"])
        num, den = (int(x) for x in params.get("F", "25:1").split(":"))
        frame_bytes = w * h * 3 // 2  # 4:2:0
        fps = num / den
        out: list[tuple[int, int, bytes]] = []
        pos, idx, out_idx = nl + 1, 0, 0
        next_ms = 0.0
        while pos < len(payload):
            fnl = payload.index(b"\n", pos)
            if not payload[pos:fnl].startswith(b"FRAME"):
                raise ValueError("malformed Y4M frame marker")
            data = payload[fnl + 1 : fnl + 1 + frame_bytes]
            ms = idx * 1000.0 / fps
            if ms >= next_ms:
                out.append((out_idx, int(ms), data))
                out_idx += 1
                next_ms += every_ms
            pos = fnl + 1 + frame_bytes
            idx += 1
        return out


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

# magic-byte prefixes PixmapCodec.pixels() can rasterize — the fused
# decode+hash stage dispatches on these instead of try/fallback so a
# CORRUPT raster quarantines from its own parse, not a second one
_RASTER_MAGIC = (
    b"P5", b"P6", b"BM", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
    b"GIF87a", b"GIF89a", b"II*\x00", b"MM\x00*",
)


def _is_raster(payload: bytes) -> bool:
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return True
    return payload.startswith(_RASTER_MAGIC)


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
            if _is_raster(raw):
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
            payload, fmt = PixmapCodec._encode_aiff(samples, 1), "aiff"
        else:
            payload, fmt = PixmapCodec._encode_wav(samples, 1), "wav"
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
            payload, fmt = PixmapCodec._encode_webp(px), "webp"
        else:
            payload, fmt = PixmapCodec._encode_png(px), "png"
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


def _build_crc_table(poly: int, width: int) -> tuple:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return tuple(table)


_FLAC_CRC8_TABLE = _build_crc_table(0x07, 8)
_FLAC_CRC16_TABLE = _build_crc_table(0x8005, 16)
