"""Baseline TIFF: II/MM byte order, 8-bit gray or RGB, chunky,
multi-strip, uncompressed or PackBits."""

from __future__ import annotations

import struct

import numpy as np


# IFD field type -> struct code: BYTE, SHORT, LONG
_FIELD_TYPES = {1: "B", 3: "H", 4: "I"}


def packbits_decode(data: bytes, expected: int) -> bytes:
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


def packbits_encode(data: bytes) -> bytes:
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


def parse(payload: bytes):
    """(width, height, pixel_array[h, w, ch]) for baseline TIFF:
    both byte orders (II/MM), 8-bit gray (photometric 1) and RGB
    (photometric 2), chunky planar config, multi-strip assembly,
    compression none (1) or PackBits (32773). Everything else —
    tiles, predictors, LZW/Deflate, palette — is rejected loudly."""
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
        fmt = _FIELD_TYPES.get(typ)
        if fmt is None:
            continue  # RATIONAL etc. — not needed for baseline
        total = struct.calcsize(fmt) * cnt
        if total <= 4:
            voff = off + 8
        else:
            voff = struct.unpack_from(f"{e}I", payload, off + 8)[0]
        if voff + total > len(payload):
            raise ValueError("truncated TIFF tag values")
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
            strip = packbits_decode(strip, expected)
        if len(strip) != expected:
            raise ValueError("TIFF strip size mismatch")
        raster += strip
        row += n_rows
    if row != h:
        raise ValueError("TIFF strips do not cover the image")
    return w, h, np.frombuffer(bytes(raster), np.uint8).reshape(
        h, w, spp
    )


def encode(
    px: np.ndarray,
    byte_order: str = "II",
    packbits: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Baseline TIFF writer: gray [h, w] / [h, w, 1] or RGB
    [h, w, 3], chunky, multi-strip, optional PackBits, either byte
    order — the structural variety the decoder must walk."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    e = "<" if byte_order == "II" else ">"
    rows_per_strip = rows_per_strip or h
    strips = []
    for r0 in range(0, h, rows_per_strip):
        raw = px[r0 : r0 + rows_per_strip].tobytes()
        strips.append(
            packbits_encode(raw) if packbits else raw
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
        packed = struct.pack(f"{e}{len(vals)}{_FIELD_TYPES[typ]}", *vals)
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
