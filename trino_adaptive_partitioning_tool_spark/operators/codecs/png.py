"""PNG: 1/2/4/8/16-bit gray, gray+alpha, RGB, RGBA and palette images,
sequential or Adam7-interlaced, with all five scanline filters."""

from __future__ import annotations

import struct
import zlib

import numpy as np


SIGNATURE = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (palette type 3 reads a 1-byte index)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def parse(payload: bytes):
    """(width, height, pixel_array[h, w, channels]) for gray,
    gray-alpha, RGB, RGBA and palette PNGs at every legal depth,
    progressive (Adam7 interlace) or not. Inflates the IDAT stream with stdlib zlib and
    reverses the per-scanline filter (types 0-4) — per Adam7 PASS
    when interlaced, since each pass is its own filtered sub-image
    whose rows predict only from that pass. Sub reverses as a
    vectorized per-lane prefix sum mod 256; Average/Paeth are
    inherently sequential along the row (each byte needs the
    RECONSTRUCTED left neighbor) and run a per-byte loop — fine for
    the thumbnail-scale assets this seam processes; a production
    deployment would swap in a compiled decoder behind the same
    Codec protocol."""
    if payload[:8] != SIGNATURE:
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
        ch = _CHANNELS[color]
    # filtering operates on scanline BYTES with a left offset of
    # bytes-per-pixel, rounded up to 1 for packed depths (spec 9.2)
    bpp = max(1, ch * depth // 8)
    raw = zlib.decompress(bytes(idat))
    if interlace == 1:  # Adam7: seven independently-filtered passes
        out = np.zeros(
            (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
        )
        pos = 0
        for xs, ys, xstep, ystep in _ADAM7:
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue  # empty pass for tiny images — no bytes
            stride = (pw * ch * depth + 7) // 8
            need = ph * (stride + 1)
            sub = _defilter(
                raw[pos : pos + need], stride, ph, bpp
            )
            pos += need
            out[ys::ystep, xs::xstep] = _rows_to_samples(
                sub, pw, ch, depth
            )
        if pos != len(raw):
            raise ValueError("PNG IDAT size mismatch")
    elif interlace == 0:
        stride = (w * ch * depth + 7) // 8
        out = _rows_to_samples(
            _defilter(raw, stride, h, bpp), w, ch, depth
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


def _rows_to_samples(
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


def _samples_to_rows(px: "np.ndarray", depth: int) -> "np.ndarray":
    """Encoder-side inverse of _rows_to_samples: samples
    [h, w, ch] -> int32 scanline-byte rows [h, stride] ready for
    _filter_rows."""
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


def _defilter(raw: bytes, stride: int, h: int, ch: int):
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


def _filter_rows(flat: np.ndarray, ch: int) -> bytearray:
    """Filter one image (or one Adam7 pass) given flat[h, w*ch]
    int32 rows. The filter type CYCLES per scanline (row r uses
    filter r % 5) so a round-trip through parse exercises
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


def encode(
    px: np.ndarray,
    interlace: bool = False,
    palette: bool = False,
    depth: int = 8,
) -> bytes:
    """Encode [h, w, channels] pixels as a valid PNG — sequential,
    or progressive (Adam7) with each of the seven passes
    gathered by the spec strides and filtered as its own sub-image
    (matching how every real encoder lays passes out and how
    parse reverses them). palette=True writes indexed
    color (type 3): RGB input emits PLTE + a filtered index plane;
    RGBA input additionally emits per-entry tRNS alphas (distinct
    colors must fit 256 entries — ValueError otherwise, like any
    real quantizer-less palette writer). depth extends the
    sample grid: 16 takes uint16 samples as big-endian pairs for
    any non-palette color type; 1/2/4 pack gray samples or palette
    indices MSB-first per spec 7.2."""
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
        for xs, ys, xstep, ystep in _ADAM7:
            sub = px[ys::ystep, xs::xstep]
            ph, pw = sub.shape[:2]
            if ph <= 0 or pw <= 0:
                continue
            out.extend(
                _filter_rows(
                    _samples_to_rows(sub, depth), bpp
                )
            )
    else:
        out = _filter_rows(
            _samples_to_rows(px, depth), bpp
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
        SIGNATURE
        + chunk(b"IHDR", ihdr)
        + b"".join(chunk(t, d) for t, d in extra)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )
