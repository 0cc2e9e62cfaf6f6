"""RIFF/WAVE audio: 16-bit PCM, G.711 mu-law and mono IMA-ADPCM."""

from __future__ import annotations

import struct

import numpy as np

from .riff import chunk, walk


def parse(payload: bytes):
    """(frames_per_channel, channels, samples[int16 array]) for a
    RIFF/WAVE file: 16-bit PCM, 8-bit mu-law or mono IMA-ADPCM. A
    truncated chunk raises: a cut data chunk that stays frame-aligned
    would otherwise decode to wrong-but-plausible stats."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    for cid, body, _ in walk(payload, 12):
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
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
                pred, idx = adpcm_step(pred, idx, nib)
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


def _wave(*chunks: bytes) -> bytes:
    return chunk(b"RIFF", b"WAVE" + b"".join(chunks))


def encode_mulaw(
    ulaw_bytes: bytes, channels: int, sample_rate: int = 8000
) -> bytes:
    """RIFF/WAVE container around raw G.711 mu-law bytes (audio
    format 7, 8 bits/sample) — the telephony corpus shape."""
    fmt = struct.pack(
        "<HHIIHH", 7, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    return _wave(chunk(b"fmt ", fmt), chunk(b"data", ulaw_bytes))


def encode(
    samples: np.ndarray, channels: int, sample_rate: int = 16000
) -> bytes:
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * 2, channels * 2, 16,
    )
    return _wave(chunk(b"fmt ", fmt), chunk(b"data", data))


# Public IMA standard tables (index adjustment by nibble magnitude;
# 89-entry quantizer step ladder).
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
    449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
    1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
    22385, 24623, 27086, 29794, 32767,
)


def adpcm_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """One IMA-ADPCM state-machine step: (predictor, step index) ->
    next state for one 4-bit code. Pure integer arithmetic — a
    DuckDB recursive CTE replays it bit-for-bit (the oracle)."""
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nibble & 7]))
    return pred, idx


def encode_adpcm(
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
    # an odd-length ADPCM data chunk ends the file unpadded, as these
    # fixtures always have: the writer's pad bytes are cut off
    body = (
        chunk(b"fmt ", fmt) + chunk(b"fact", fact)
        + chunk(b"data", data)[: 8 + len(data)]
    )
    return _wave(body)[: 12 + len(body)]
