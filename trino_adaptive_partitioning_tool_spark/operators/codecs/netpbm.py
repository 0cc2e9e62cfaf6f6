"""Netpbm (PPM P6 / PGM P5) and 24-bit uncompressed BMP."""

from __future__ import annotations

import struct

import numpy as np


def parse(payload: bytes):
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


def encode(px: np.ndarray) -> bytes:
    """P6 for [h, w, 3] pixels, P5 for [h, w, 1]."""
    h, w, ch = px.shape
    magic = b"P6" if ch == 3 else b"P5"
    return magic + b"\n%d %d\n255\n" % (w, h) + px.tobytes()


def parse_bmp(payload: bytes):
    """(width, height, pixel_array[h, w, 3] in BGR file order)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 54:  # BITMAPFILEHEADER + BITMAPINFOHEADER
        raise ValueError("truncated BMP header")
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


def encode_bmp(px: np.ndarray) -> bytes:
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
