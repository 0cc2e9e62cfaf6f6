"""PixmapCodec: the real pure-python/numpy codec, over one format table.

Each format family is its own module exposing ``parse``/``encode``;
``FORMATS`` maps a payload's magic bytes to its parser and record kind,
and every dispatch site (decode, resize, pixels, pcm, is_raster) reads
that one table:

  * raster: ``read`` gives the decoded pixel array [h, w, channels];
    ``resize`` (when the format has an encoder) re-encodes a
    nearest-neighbor resample in the source format
  * audio: ``read`` gives (frames_per_channel, channels, samples)
  * video: ``read`` gives (width, height, mean over every decoded
    sample of every frame)
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np

from . import aiff, avi, flac, gif, jpeg, netpbm, png, tiff, wav, webp, y4m


class _Format(NamedTuple):
    magic: tuple[bytes, ...]  # the payload starts with one of these
    form: bytes  # RIFF/IFF form type at bytes 8..12, b"" for none
    kind: str  # "raster" | "audio" | "video"
    read: Callable[[bytes], object]
    # (payload, nearest-neighbor resampler) -> resized payload
    resize: Callable[[bytes, Callable], bytes] | None = None


def _raster(magic: tuple[bytes, ...], read, encode=None, form=b"") -> _Format:
    resize = encode and (lambda p, nn: encode(nn(read(p))))
    return _Format(magic, form, "raster", read, resize)


def _gif_pixels(payload: bytes) -> np.ndarray:
    _, _, idx, pal = gif.parse(payload)
    return pal[idx]  # palette lookup -> [h, w, 3]


def _gif_resize(payload: bytes, nn: Callable) -> bytes:
    # resample on the INDEX grid and keep the original palette: exact
    # (no re-quantization), interlace not re-applied
    _, _, idx, pal = gif.parse(payload)
    return gif.encode(nn(idx[:, :, None])[:, :, 0], pal)


def _avi_video(payload: bytes) -> tuple[int, int, float]:
    w, h, _fps, frames = avi.decode_frames(payload)
    total = sum(int(px.astype(np.int64).sum()) for px in frames)
    count = sum(px.size for px in frames)
    return w, h, total / count if count else 0.0


def _y4m_video(payload: bytes) -> tuple[int, int, float]:
    w, h, _fps, frames = y4m.parse(payload)
    return w, h, float(np.frombuffer(b"".join(frames), dtype=np.uint8).mean())


FORMATS: tuple[_Format, ...] = (
    _raster((b"P5", b"P6"), lambda p: netpbm.parse(p)[4], netpbm.encode),
    _raster((b"BM",), lambda p: netpbm.parse_bmp(p)[2], netpbm.encode_bmp),
    _raster((png.SIGNATURE,), lambda p: png.parse(p)[2], png.encode),
    _raster((b"\xff\xd8",), lambda p: jpeg.parse(p)[2], jpeg.encode_pixels),
    _Format((b"GIF87a", b"GIF89a"), b"", "raster", _gif_pixels, _gif_resize),
    _raster((b"II*\x00", b"MM\x00*"), lambda p: tiff.parse(p)[2], tiff.encode),
    _raster((b"RIFF",), lambda p: webp.parse(p)[2], form=b"WEBP"),
    _Format((b"RIFF",), b"WAVE", "audio", wav.parse),
    _Format((b"FORM",), b"AIFF", "audio", lambda p: aiff.parse(p)[:3]),
    _Format((b"fLaC",), b"", "audio", lambda p: flac.parse(p)[:3]),
    _Format((b"RIFF",), b"AVI ", "video", _avi_video),
    _Format((b"YUV4MPEG2",), b"", "video", _y4m_video),
)
# candidate formats per leading byte: one dict probe, then a prefix test
_BY_LEAD: dict[int, list[_Format]] = {}
for _f in FORMATS:
    for _lead in {m[0] for m in _f.magic}:
        _BY_LEAD.setdefault(_lead, []).append(_f)


def _lookup(payload: bytes) -> _Format | None:
    for f in _BY_LEAD.get(payload[0] if payload else -1, ()):
        if payload.startswith(f.magic) and (not f.form or payload[8:12] == f.form):
            return f
    return None


def is_raster(payload: bytes) -> bool:
    """Whether PixmapCodec.pixels() can rasterize this payload."""
    fmt = _lookup(payload)
    return fmt is not None and fmt.kind == "raster"


class PixmapCodec:
    """REAL pure-python/numpy codec for public raster, audio and video
    formats — no external media libraries needed: PPM/PGM, BMP, PNG,
    GIF, TIFF, baseline + progressive JPEG and WebP-lossless images;
    WAV (PCM, mu-law, IMA-ADPCM), AIFF and FLAC audio; MJPEG-AVI and
    Y4M video. Audio decode reports frames-per-channel as width,
    channels as height and mean |sample| as intensity — the amplitude
    signal an audio curation filter thresholds on.

    decode() parses actual pixels; resize() is true nearest-neighbor
    resampling re-encoded in the source format. Anything else raises
    ValueError — this codec never fakes a result, which is what makes
    ``is_real`` honest."""

    is_real = True

    def pixels(self, payload: bytes) -> np.ndarray:
        """Decoded pixel array [h, w, channels] for raster payloads —
        the seam the per-channel statistics stage consumes (overall
        mean hides channel-interleave bugs; this exposes them)."""
        fmt = _lookup(payload)
        if fmt is None or fmt.kind != "raster":
            raise ValueError("unsupported raster format for PixmapCodec")
        return fmt.read(payload)

    def pcm(self, payload: bytes) -> np.ndarray:
        """Channel-0 int16 sample vector for audio payloads — the seam
        the audio-fingerprint stage consumes (a fingerprint over one
        channel is the standard robust-hash input; stereo files
        fingerprint their first channel)."""
        fmt = _lookup(payload)
        if fmt is None or fmt.kind != "audio":
            raise ValueError("unsupported audio format for PixmapCodec")
        _frames, channels, samples = fmt.read(payload)
        return np.asarray(samples, dtype=np.int16)[0::channels]

    # -- Codec protocol --------------------------------------------------
    def decode(self, payload: bytes, media_type: str) -> tuple[int, int, float]:
        del media_type
        fmt = _lookup(payload)
        if fmt is None:
            raise ValueError("unsupported payload format for PixmapCodec")
        record = fmt.read(payload)
        if fmt.kind == "raster":
            return record.shape[1], record.shape[0], float(record.mean())
        if fmt.kind == "audio":
            frames, channels, samples = record
            return frames, channels, float(
                np.abs(samples.astype(np.int64)).mean()
            )
        return record

    def resize(
        self, payload: bytes, target_width: int, target_height: int
    ) -> bytes:
        fmt = _lookup(payload)
        if fmt is None or fmt.resize is None:
            raise ValueError("unsupported payload format for PixmapCodec")

        def nn(px: np.ndarray) -> np.ndarray:
            h, w = px.shape[:2]
            ri = (np.arange(target_height) * h) // target_height
            ci = (np.arange(target_width) * w) // target_width
            return np.ascontiguousarray(px[ri][:, ci])

        return fmt.resize(payload, nn)

    def frames(
        self, payload: bytes, duration_ms: int, every_ms: int
    ) -> list[tuple[int, int, bytes]]:
        """Y4M stream → every_ms-spaced raw 4:2:0 frames. duration_ms is
        ignored (the stream header carries the real frame rate)."""
        return y4m.sample(payload, every_ms)
