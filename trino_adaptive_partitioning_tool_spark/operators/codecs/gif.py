"""GIF87a/89a: LZW-coded first image, global or local color table,
4-pass interlace."""

from __future__ import annotations

import struct

import numpy as np

from .bitio import LsbBitReader, LsbBitWriter


INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlaced_rows(h: int) -> list[int]:
    """Raster row of each file row of a 4-pass interlaced image."""
    return [r for start, step in INTERLACE_PASSES for r in range(start, h, step)]


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first bit packing, CLEAR/EOI codes,
    variable width growing at dictionary size 2^width (cap 12),
    KwKwK case handled. Returns exactly n_pixels indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list[int] = []
    br = LsbBitReader(data)
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
        code = br.read(width)
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


def lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encoder: real dictionary compression with
    width growth and a CLEAR+reset at 4096 — the inverse state
    machine of lzw_decode (round trips exercise the decoder's
    growth and KwKwK paths on repetitive inputs)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = LsbBitWriter()
    emit = bw.write
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
    return bw.getvalue()


def parse(payload: bytes):
    """(width, height, indices[h, w], palette[n, 3]) for the first
    image of a GIF87a/GIF89a file: logical screen descriptor,
    global/local color tables, extension-block skip (sub-block
    chains), LZW-decoded index stream, 4-pass de-interlace."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 14:
        raise ValueError("truncated GIF header")

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
            lzw_decode(bytes(lzw), min_code, w * h), np.uint8
        ).reshape(h, w)
        if iflags & 0x40:  # interlaced: file rows -> 4-pass order
            out = np.zeros_like(idx)
            out[_interlaced_rows(h)] = idx
            idx = out
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF index outside color table")
        return w, h, idx, pal
    raise ValueError("GIF contains no image block")


def encode(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Single-frame GIF89a from an [h, w] index array + [n, 3]
    palette (padded to a power of two): real LZW compression,
    optional 4-pass interlaced row order."""
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
    rows = _interlaced_rows(h) if interlace else range(h)
    stream = [int(v) for r in rows for v in indices[r]]
    min_code = max(2, bits)
    out.append(min_code)
    lzw = lzw_encode(stream, min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
