"""AIFF: big-endian 16-bit PCM in a FORM/AIFF container."""

from __future__ import annotations

import struct

import numpy as np

from .riff import chunk, walk


def parse(payload: bytes):
    """(frames_per_channel, channels, samples[int16], sample_rate)
    for an AIFF 16-bit PCM file: FORM/AIFF container, COMM chunk
    (channels, frame count, sample size, 80-bit IEEE extended
    sample rate), SSND chunk (offset/blockSize header then
    big-endian samples). Chunks pad to even offsets like RIFF."""
    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not an AIFF payload")
    comm = None
    sound = None
    for cid, body, _ in walk(payload, 12, big_endian=True):
        if cid == b"COMM":
            if len(body) < 18:
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


def encode(
    samples: np.ndarray, channels: int, sample_rate: int = 16000
) -> bytes:
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
    return chunk(
        b"FORM",
        b"AIFF" + chunk(b"COMM", comm, True) + chunk(b"SSND", ssnd, True),
        True,
    )
