"""RIFF/IFF chunks: one walker and one writer for WAV, AIFF, WebP and AVI.

A chunk is a fourcc, a 4-byte body size (little-endian for RIFF,
big-endian for IFF) and the body, padded to an even offset.
"""

from __future__ import annotations

from collections.abc import Iterator


def walk(
    data: bytes, pos: int, end: int | None = None, big_endian: bool = False
) -> Iterator[tuple[bytes, bytes, int]]:
    """(fourcc, body, offset) for each chunk from ``pos`` to ``end``
    (default: the end of ``data``); a body that runs past ``end`` raises
    ValueError."""
    end = len(data) if end is None else end
    order = "big" if big_endian else "little"
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], order)
        if pos + 8 + size > end:
            raise ValueError(f"truncated chunk ({cid!r})")
        yield cid, data[pos + 8 : pos + 8 + size], pos
        pos += 8 + size + (size & 1)


def chunk(cid: bytes, body: bytes, big_endian: bool = False) -> bytes:
    """One chunk, padded to an even length."""
    size = len(body).to_bytes(4, "big" if big_endian else "little")
    return cid + size + body + b"\x00" * (len(body) & 1)
