"""FLAC codec units: structural-matrix round trips, the decode-only
paths (LPC subframes), wasted-bits auto-detection, the CRC-8/CRC-16/MD5
integrity gates (including the frame-order scramble the MD5 exists to
catch), and the UTF-8 coded-number edge widths.

Reference parity note: the reference tool (src/partitioning.py) has no
audio surface at all — FLAC extends the multimodal layer the same way
WAV/AIFF did, behind the same Codec seam.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from trino_adaptive_partitioning_tool_spark.operators.codecs import flac
from trino_adaptive_partitioning_tool_spark.operators.codecs.bitio import (
    MsbBitReader,
    MsbBitWriter,
)
from trino_adaptive_partitioning_tool_spark.operators.multimodal import (
    PixmapCodec,
)

_pc = PixmapCodec()


def _md5_samples(aid: int, frames: int, ch: int) -> np.ndarray:
    digest = hashlib.md5(str(aid).encode()).digest()
    need = frames * ch * 2
    return np.frombuffer((digest * (need // 16 + 1))[:need], dtype="<i2")


@pytest.mark.parametrize(
    "channels,stereo_mode",
    [
        (1, "independent"),
        (2, "independent"),
        (2, "left_side"),
        (2, "right_side"),
        (2, "mid_side"),
    ],
)
@pytest.mark.parametrize("block_size", [8, 16, 32])
def test_round_trip_structural_matrix(channels, stereo_mode, block_size):
    samples = _md5_samples(channels * 31 + block_size, 37, channels)
    payload = flac.encode(
        samples, channels, block_size=block_size, stereo_mode=stereo_mode
    )
    n, ch, dec, rate = flac.parse(payload)
    assert (n, ch, rate) == (37, channels, 16000)
    assert np.array_equal(dec, samples)


@pytest.mark.parametrize("force_verbatim", [False, True])
@pytest.mark.parametrize("force_escape", [False, True])
@pytest.mark.parametrize("partition_order", [0, 1, 2])
def test_round_trip_residual_paths(
    force_verbatim, force_escape, partition_order
):
    samples = _md5_samples(7, 48, 1)
    payload = flac.encode(
        samples,
        1,
        block_size=16,
        force_verbatim=force_verbatim,
        force_escape=force_escape,
        partition_order=partition_order,
    )
    assert np.array_equal(flac.parse(payload)[2], samples)


def test_constant_subframe_round_trip():
    samples = np.full(40, -12345, dtype=np.int16)
    payload = flac.encode(samples, 2, block_size=16)
    n, ch, dec, _ = flac.parse(payload)
    assert (n, ch) == (20, 2)
    assert np.array_equal(dec, samples)


def test_wasted_bits_detected_and_inverted():
    # all samples share 3 trailing zero bits -> subframe must flag
    # k=3 wasted bits and the decoder must shift them back in
    data = [v * 8 for v in (-100, 3, 77, -5, 12, 9, -64, 20)]
    fw = MsbBitWriter()
    flac.write_subframe(fw, data, 16, False, 0, False)
    fw.align()
    raw = fw.getvalue()
    br = MsbBitReader(raw)
    assert br.read(1) == 0  # reserved pad
    br.read(6)  # subframe type
    assert br.read(1) == 1  # wasted-bits flag set
    assert br.read_unary() + 1 == 3  # k = 3
    got = flac.read_subframe(MsbBitReader(raw), len(data), 16)
    assert got == data


def test_lpc_subframe_decode():
    """Decode-only LPC path: hand-craft an order-2 LPC subframe with
    coefficients [2, -1] and shift 0 — arithmetically identical to the
    fixed order-2 predictor — and check the decoder reconstructs the
    same samples the fixed-path encoder started from."""
    data = [int(v) for v in _md5_samples(11, 24, 1)]
    order, coefs, shift, prec = 2, [2, -1], 0, 15
    res = [
        data[i] - (2 * data[i - 1] - data[i - 2])
        for i in range(order, len(data))
    ]
    fw = MsbBitWriter()
    fw.write(0, 1)  # reserved pad
    fw.write(0b100000 | (order - 1), 6)  # LPC, order bits = order-1
    fw.write(0, 1)  # no wasted bits
    for v in data[:order]:
        fw.write(v & 0xFFFF, 16)
    fw.write(prec - 1, 4)
    fw.write(shift, 5)
    for c in coefs:
        fw.write(c & ((1 << prec) - 1), prec)
    flac.write_residual(fw, res, len(data), order, 0, False)
    fw.align()
    got = flac.read_subframe(
        MsbBitReader(fw.getvalue()), len(data), 16
    )
    assert got == data


def test_crc8_corruption_raises():
    samples = _md5_samples(3, 30, 1)
    payload = bytearray(flac.encode(samples, 1))
    # byte right after the metadata (4 magic + 4 header + 34 body)
    payload[42 + 5] ^= 0x01  # inside the first frame header
    with pytest.raises(ValueError):
        flac.parse(bytes(payload))


def test_crc16_corruption_raises():
    samples = _md5_samples(4, 30, 1)
    payload = bytearray(flac.encode(samples, 1))
    payload[-3] ^= 0x40  # inside the last frame's subframe data
    with pytest.raises(ValueError):
        flac.parse(bytes(payload))


def test_streaminfo_md5_tamper_raises():
    samples = _md5_samples(5, 30, 1)
    payload = bytearray(flac.encode(samples, 1))
    payload[30] ^= 0xFF  # inside the STREAMINFO md5 field (bytes 26..41)
    with pytest.raises(ValueError, match="MD5"):
        flac.parse(bytes(payload))


def test_frame_order_scramble_raises():
    """The frame-order certificate: swapping two equal-length frames
    leaves every per-frame CRC valid, but the decoded stream is a
    permutation — the STREAMINFO MD5 gate must refuse it."""
    # non-periodic content: the md5-cycle repeats every 8 samples, which
    # would make both frames byte-identical and the swap a no-op
    samples = (np.arange(32) * 997 % 30000 - 15000).astype(np.int16)
    payload = flac.encode(
        samples, 1, block_size=16, force_verbatim=True
    )
    meta_end = 4 + 4 + 34
    body = payload[meta_end:]
    assert len(body) % 2 == 0
    flen = len(body) // 2  # two identical-shape verbatim frames
    swapped = payload[:meta_end] + body[flen:] + body[:flen]
    # sanity: the scramble really kept both frames byte-valid
    assert swapped != payload
    with pytest.raises(ValueError, match="MD5"):
        flac.parse(swapped)


def test_utf8_coded_number_widths():
    for v in (0, 0x7F, 0x80, 0x7FF, 0x800, 2**16, 2**21 - 1, 2**31 - 1,
              2**36 - 1):
        enc = flac.utf8_encode(v)
        assert flac.utf8_decode(MsbBitReader(enc)) == v


def test_multibyte_frame_numbers_round_trip():
    # 250 frames of 8 samples: frame indexes past 127 exercise the
    # 2-byte UTF-8 coded-number path inside real frame headers
    samples = _md5_samples(13, 2000, 1)
    payload = flac.encode(samples, 1, block_size=8)
    assert np.array_equal(flac.parse(payload)[2], samples)


def test_decode_dispatch_returns_audio_shape():
    samples = _md5_samples(21, 40, 2)
    payload = flac.encode(samples, 2)
    frames, channels, mean_abs = _pc.decode(payload, "audio")
    assert (frames, channels) == (40, 2)
    assert mean_abs == pytest.approx(
        np.abs(samples.astype(np.int64)).mean()
    )


def test_non_flac_magic_raises():
    with pytest.raises(ValueError):
        flac.parse(b"fLaX" + b"\x00" * 64)
