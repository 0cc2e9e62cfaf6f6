"""MJPEG-AVI container units: round trip, the idx1 index-vs-layout
cross-check (the frame-order certificate), header count validation,
truncation contracts, and decode() dispatch disambiguation between the
two RIFF payload kinds (WAVE vs AVI)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from trino_adaptive_partitioning_tool_spark.operators.codecs import avi, jpeg, wav
from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
    PixmapCodec,
)

_pc = PixmapCodec()


def _frames(n, mw=2, mh=1, seed=0):
    out = []
    rng = np.random.default_rng(seed)
    for _ in range(n):
        y = np.repeat(
            np.repeat(
                rng.integers(0, 256, (mh, mw), dtype=np.uint8), 8, 0
            ),
            8,
            1,
        )
        cb = np.full_like(y, 128)
        cr = np.full_like(y, 128)
        out.append(jpeg.encode(y, cb, cr, subsampling="444"))
    return out


def test_round_trip():
    frames = _frames(5)
    payload = avi.encode(frames, 16, 8, fps=10)
    w, h, fps, got = avi.parse(payload)
    assert (w, h, fps) == (16, 8, 10)
    assert got == frames


def test_idx1_offset_tamper_raises():
    payload = bytearray(avi.encode(_frames(3), 16, 8))
    idx_pos = payload.rfind(b"idx1")
    assert idx_pos > 0
    # corrupt the second entry's offset field
    off_pos = idx_pos + 8 + 16 + 8
    payload[off_pos] ^= 0x04
    with pytest.raises(ValueError, match="idx1"):
        avi.parse(bytes(payload))


def test_idx1_reorder_raises():
    """Swapping two idx1 entries (same chunks, wrong order) must fail
    the layout cross-check even though every entry is individually
    valid."""
    payload = bytearray(avi.encode(_frames(3), 16, 8))
    idx_pos = payload.rfind(b"idx1") + 8
    e0 = bytes(payload[idx_pos : idx_pos + 16])
    e1 = bytes(payload[idx_pos + 16 : idx_pos + 32])
    payload[idx_pos : idx_pos + 32] = e1 + e0
    with pytest.raises(ValueError, match="idx1"):
        avi.parse(bytes(payload))


def test_frame_count_mismatch_raises():
    payload = bytearray(avi.encode(_frames(4), 16, 8))
    avih_pos = payload.find(b"avih") + 8
    # dwTotalFrames is the 5th DWORD of avih
    struct.pack_into("<I", payload, avih_pos + 16, 7)
    with pytest.raises(ValueError, match="frame count"):
        avi.parse(bytes(payload))


def test_non_mjpg_handler_raises():
    payload = bytearray(avi.encode(_frames(2), 16, 8))
    payload[payload.find(b"MJPG") : payload.find(b"MJPG") + 4] = b"H264"
    with pytest.raises(ValueError, match="MJPG"):
        avi.parse(bytes(payload))


def test_truncation_raises():
    payload = avi.encode(_frames(3), 16, 8)
    for cut in (10, len(payload) // 3, len(payload) // 2, len(payload) - 5):
        with pytest.raises(ValueError):
            avi.parse(payload[:cut])


def test_decode_dispatch_disambiguates_riff():
    avi_payload = avi.encode(_frames(2), 16, 8)
    wav_payload = wav.encode(
        np.arange(-20, 20, dtype="<i2"), channels=2
    )
    aw, ah, amean = _pc.decode(avi_payload, "video")
    assert (aw, ah) == (16, 8)
    frames, channels, _ = _pc.decode(wav_payload, "audio")
    assert (frames, channels) == (20, 2)


def test_decode_mean_matches_frame_decodes():
    frames = _frames(3, seed=7)
    payload = avi.encode(frames, 16, 8)
    total, count = 0, 0
    for f in frames:
        _, _, px = jpeg.parse(f)
        total += int(px.astype(np.int64).sum())
        count += px.size
    _, _, mean = _pc.decode(payload, "video")
    assert mean == pytest.approx(total / count)
