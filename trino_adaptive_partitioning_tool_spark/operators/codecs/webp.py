"""WebP-lossless (VP8L) in a RIFF/WEBP container (RFC 9649)."""

from __future__ import annotations

import numpy as np

from . import huffman
from .bitio import LsbBitReader, LsbBitWriter
from .huffman import read_symbol, reverse_bits
from .riff import chunk, walk


# Public format: RIFF/WEBP container, VP8L chunk, LSB-first
# bitstream, canonical length-limited Huffman codes per ARGB channel
# (WebP Lossless Bitstream Specification, RFC 9649). The decoder
# handles the COMPLETE spec surface: the prefix-code machinery
# (simple codes, the 19-symbol code-length code and its 16/17/18
# repeat operators), LZ77 backward references (length/distance
# prefix values + the 120-entry 2-D neighborhood distance-code
# map), the 0x1e35a7bd color cache, all four transforms (predictor
# 0..13, color, subtract-green, color-indexing with pixel
# bundling) and the meta-huffman prefix-code groups. The encoder
# emits literal-coded pixels by default (legal to omit everything
# optional); the opt-in keywords produce streams exercising every
# decode path so fixtures certify it end-to-end.

# code-length symbols appear in this fixed spec order
_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
)
# alphabet sizes: green+length (no cache), red, blue, alpha, distance
_ALPHABETS = (256 + 24, 256, 256, 256, 40)

# RFC 9649 plane-to-code lut: index = dy*16 + 8 + dx for the
# referenced pixel at (current_x + dx, current_y - dy), dx in
# [-8, 7], dy in [0, 7]; value = distance_code - 1, 255 = no short
# code. Validated a permutation of 0..119 by _invert_dist_lut().
_DIST_LUT = (
    96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255,
    255, 101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
    102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
    105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
    110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83,
    100, 115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77,
    95, 109, 118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81,
    93, 104, 114, 119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85,
    89, 98, 107, 112, 117,
)


def _invert_dist_lut() -> tuple:
    """distance_code (1..120) -> (xoffset, yoffset): the referenced
    pixel sits xoffset + yoffset*width scan-order positions back.
    Built by inverting _DIST_LUT; fail-loud permutation check."""
    vals = [v for v in _DIST_LUT if v != 255]
    if sorted(vals) != list(range(120)):
        raise AssertionError("VP8L distance lut is corrupt")
    table: list = [None] * 121
    for idx, v in enumerate(_DIST_LUT):
        if v == 255:
            continue
        dy, dx = divmod(idx, 16)
        table[v + 1] = (-(dx - 8), dy)
    return tuple(table)


DIST_TABLE = _invert_dist_lut()


def prefix_read(sym: int, br: "LsbBitReader") -> int:
    """Length/distance prefix-coded value (RFC 9649 §4.2.2): the
    symbol selects a power-of-two bucket, extra bits refine it."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def prefix_split(value: int) -> tuple[int, int, int]:
    """Inverse of prefix_read: value -> (symbol, extra_value,
    extra_bits)."""
    if value < 1:
        raise ValueError("prefix values start at 1")
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    sym = 2 * extra + ((v >> extra) & 1)
    return sym + 2, v - ((2 + ((v >> extra) & 1)) << extra), extra


def _s8(v: int) -> int:
    """A byte as a signed int8."""
    return v - 256 if v >= 128 else v


def _cache_key(r: int, g: int, b: int, a: int, bits: int) -> int:
    """Color-cache slot (RFC 9649 §4.2.3): multiplicative hash of
    the packed ARGB word."""
    argb = ((a << 24) | (r << 16) | (g << 8) | b) & 0xFFFFFFFF
    return ((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - bits)


def _bundle_bits(palette_size: int) -> int:
    """Pixel-bundling width_bits for a color-indexing transform
    (RFC 9649 §3.5): small palettes pack several indices per coded
    pixel, shrinking the coded image width by 2^width_bits."""
    if palette_size <= 2:
        return 3
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


def _predict(mode: int, buf, i: int, w: int) -> tuple:
    """RFC 9649 §4.1.1 spatial predictors 0..13 for the pixel at
    scan index i, given already-reconstructed pixels in ``buf``
    (indexable -> 4-int sequences). Only called off the first
    row/column, so L/T/TL always exist; TR at the right edge wraps
    into the current row's first pixel via flat scan-order
    addressing — exactly the contiguous-rows addressing the spec
    defines."""
    L = buf[i - 1]
    T = buf[i - w]
    if mode == 1:
        return tuple(L)
    if mode == 2:
        return tuple(T)
    if mode == 0:
        return (0, 0, 0, 255)
    TL = buf[i - w - 1]
    TR = buf[i - w + 1]

    def avg2(a, b):
        return tuple((int(a[k]) + int(b[k])) >> 1 for k in range(4))

    if mode == 3:
        return tuple(TR)
    if mode == 4:
        return tuple(TL)
    if mode == 5:
        return avg2(avg2(L, TR), T)
    if mode == 6:
        return avg2(L, TL)
    if mode == 7:
        return avg2(L, T)
    if mode == 8:
        return avg2(TL, T)
    if mode == 9:
        return avg2(T, TR)
    if mode == 10:
        return avg2(avg2(L, TL), avg2(T, TR))
    if mode == 11:  # Select: whichever of T/L is closer to TL-plane
        pa_minus_pb = sum(
            abs(int(L[k]) - int(TL[k])) - abs(int(T[k]) - int(TL[k]))
            for k in range(4)
        )
        return tuple(T) if pa_minus_pb <= 0 else tuple(L)
    if mode == 12:  # ClampAddSubtractFull
        return tuple(
            min(255, max(0, int(L[k]) + int(T[k]) - int(TL[k])))
            for k in range(4)
        )
    if mode == 13:  # ClampAddSubtractHalf (C-truncating half step)
        out = []
        for k in range(4):
            ave = (int(L[k]) + int(T[k])) >> 1
            d = ave - int(TL[k])
            half = d // 2 if d >= 0 else -((-d) // 2)
            out.append(min(255, max(0, ave + half)))
        return tuple(out)
    raise ValueError(f"invalid VP8L predictor mode {mode}")


def _lsb_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    return {
        s: (reverse_bits(c, n), n)
        for s, (c, n) in huffman.canonical_codes(lengths).items()
    }


def _write_code(
    bw: "LsbBitWriter", freqs: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Write one prefix code; return {symbol: (code, len)} with the
    code bits reversed for the LSB-first emit loop. <=2 distinct
    symbols use the simple-code form (positional codes 0/1);
    otherwise canonical lengths go through the code-length code,
    literal-only (use_length=0 means the reader consumes one
    code-length entry per ALPHABET slot, so the zero tail past the
    last used symbol is written explicitly)."""
    syms = sorted(freqs)
    # the simple form stores symbols in 1 or 8 bits, so it cannot
    # carry length/cache symbols (>= 256) from the green alphabet
    if len(syms) <= 2 and syms[-1] <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        first = syms[0]
        if first <= 1:
            bw.write(0, 1)
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
            return {syms[0]: (0, 1), syms[1]: (1, 1)}
        return {syms[0]: (0, 0)}
    bw.write(0, 1)  # normal
    lengths = huffman.limited_lengths(freqs, 15)
    per_symbol = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freqs: dict[int, int] = {}
    for l in per_symbol:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    cl_lengths = huffman.limited_lengths(cl_freqs, 7)
    bw.write(len(_CL_ORDER) - 4, 4)  # num_code_lengths = 19
    for sym in _CL_ORDER:
        bw.write(cl_lengths.get(sym, 0), 3)
    bw.write(0, 1)  # use_length = 0
    cl_codes = _lsb_codes(cl_lengths)
    for l in per_symbol:
        bw.write(*cl_codes[l])
    return _lsb_codes(lengths)


def encode(
    px: "np.ndarray",
    *,
    cache_bits: int = 0,
    backrefs: bool = False,
    subtract_green: bool = False,
    predictor: "int | None" = None,
    color_cte: "tuple[int, int, int] | None" = None,
    palette: bool = False,
    meta_groups: int = 1,
) -> bytes:
    """REAL WebP-lossless bytes for an [h, w, 3|4] uint8 raster.

    Default output is pure literal coding. ``backrefs=True`` switches to
    a greedy LZ77 over left-run (dist 1) and above-run (dist width)
    candidates plus ``cache_bits`` of color cache, exercising the
    decoder's full RFC 9649 path including the 2-D neighborhood
    distance codes; ``subtract_green=True`` additionally codes in
    the subtract-green transform domain; ``predictor=m`` applies
    spatial predictor mode m image-wide; ``color_cte=(g2r, g2b,
    r2b)`` applies a fixed color-transform element;
    ``palette=True`` writes the color-indexing transform with
    pixel bundling; ``meta_groups=2`` splits the prefix codes
    across a meta-huffman tile image — together the features
    virtually every real cwebp output carries.

    LZ77 match candidates are dist=1 (horizontal run) and dist=k*width
    for k in 1..8 — enough to exercise length prefix codes, the 2-D
    neighborhood distance codes AND the dist+120 literal form, and
    cache hits, while staying O(n). Transforms apply forward in stream
    order (subtract-green -> color -> predictor -> color-indexing);
    palette mode is exclusive of the pixel-domain transforms, like
    every real encoder. meta_groups=2 writes a parity-tiled
    meta-prefix image with two (identical) code groups so the
    decoder's group-switching path is certified."""
    orig_h, orig_w, ch = px.shape
    if ch not in (3, 4) or orig_w > 1 << 14 or orig_h > 1 << 14:
        raise ValueError("VP8L encoder needs RGB/RGBA, dims <= 16384")
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L color-cache bits out of range")
    h, w = orig_h, orig_w
    n = h * w
    flat = px.reshape(-1, ch).astype(np.int32)
    if ch == 3:
        flat = np.concatenate(
            [flat, np.full((n, 1), 255, np.int32)], axis=1
        )
    if palette and (
        subtract_green or predictor is not None
        or color_cte is not None
    ):
        raise ValueError(
            "color-indexing excludes pixel-domain transforms"
        )
    if meta_groups not in (1, 2):
        raise ValueError("meta_groups must be 1 or 2")

    chain: list[tuple[str, tuple | None]] = []
    if subtract_green:  # forward: code in the transformed domain
        flat[:, 0] = (flat[:, 0] - flat[:, 1]) & 0xFF
        flat[:, 2] = (flat[:, 2] - flat[:, 1]) & 0xFF
        chain.append(("sg", None))
    if color_cte is not None:
        g2r, g2b, r2b = color_cte
        if not all(-128 <= v <= 127 for v in color_cte):
            raise ValueError("color-transform element out of int8")
        for i in range(n):
            r0, g0, b0 = int(flat[i, 0]), int(flat[i, 1]), int(flat[i, 2])
            flat[i, 0] = (r0 - ((g2r * _s8(g0)) >> 5)) & 0xFF
            flat[i, 2] = (
                b0 - ((g2b * _s8(g0)) >> 5) - ((r2b * _s8(r0)) >> 5)
            ) & 0xFF
        size_bits = 4
        tw = (w + 15) >> size_bits
        th = (h + 15) >> size_bits
        tile = (r2b & 0xFF, g2b & 0xFF, g2r & 0xFF, 255)
        chain.append(("color", (size_bits, tw, th, [tile] * (tw * th))))
    if predictor is not None:
        if not 0 <= predictor <= 13:
            raise ValueError("predictor mode must be 0..13")
        vals = [tuple(int(v) & 0xFF for v in row) for row in flat]
        res = np.zeros_like(flat)
        for i in range(n):
            y, x = divmod(i, w)
            if i == 0:
                pr = (0, 0, 0, 255)
            elif y == 0:
                pr = vals[i - 1]
            elif x == 0:
                pr = vals[i - w]
            else:
                pr = _predict(predictor, vals, i, w)
            for k in range(4):
                res[i, k] = (vals[i][k] - pr[k]) & 0xFF
        flat = res
        size_bits = 4
        tw = (w + 15) >> size_bits
        th = (h + 15) >> size_bits
        chain.append(
            ("pred", (size_bits, tw, th, [(0, predictor, 0, 255)] * (tw * th)))
        )
    if palette:
        arr = (flat & 0xFF).astype(np.uint8)
        colors, idx = np.unique(arr, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError(
                f"palette WebP limited to 256 colors, got {len(colors)}"
            )
        width_bits = _bundle_bits(len(colors))
        bpp = 8 >> width_bits
        xmask = (1 << width_bits) - 1
        packed_w = (w + (1 << width_bits) - 1) >> width_bits
        packed = np.zeros((packed_w * h, 4), np.int32)
        packed[:, 3] = 255
        for y in range(h):
            for x in range(w):
                packed[y * packed_w + (x >> width_bits), 1] |= (
                    int(idx[y * w + x]) << (bpp * (x & xmask))
                )
        dpal = colors.astype(np.int32)
        dpal = np.concatenate(
            [dpal[:1], (dpal[1:] - dpal[:-1]) & 0xFF]
        )  # delta-coded palette entries
        chain.append(
            ("cidx", (len(colors),
                      [tuple(int(v) for v in row) for row in dpal]))
        )
        flat, w, n = packed, packed_w, packed_w * h

    pixels = [tuple(int(v) & 0xFF for v in row) for row in flat]
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [(0, 0, 0, 0)] * cache_size
    dist_map = DIST_TABLE
    # smallest neighborhood code per scan-order distance (several
    # (x, y) pairs can collapse to one distance at small widths)
    inv: dict[int, int] = {}
    for code in range(1, 121):
        xo, yo = dist_map[code]
        inv.setdefault(max(xo + yo * w, 1), code)
    tokens: list[tuple] = []
    freqs: list[dict[int, int]] = [{} for _ in range(5)]

    def bump(t: int, sym: int) -> None:
        freqs[t][sym] = freqs[t].get(sym, 0) + 1

    i = 0
    while i < n:
        best_len = best_dist = 0
        if backrefs:
            for dist in (1, *(k * w for k in range(1, 9))):
                if dist < 1 or dist > i:
                    continue
                ln = 0
                maxl = min(4096, n - i)
                while (
                    ln < maxl
                    and pixels[i + ln] == pixels[i + ln - dist]
                ):
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
        if best_len >= 3:
            lsym, lxv, lbits = prefix_split(best_len)
            dcode = inv.get(best_dist, best_dist + 120)
            dsym, dxv, dbits = prefix_split(dcode)
            if dsym >= 40:  # pragma: no cover - needs dist > 2^20
                raise ValueError("VP8L distance out of alphabet")
            tokens.append(("B", lsym, lxv, lbits, dsym, dxv, dbits))
            bump(0, 256 + lsym)
            bump(4, dsym)
            for _ in range(best_len):
                if cache_size:
                    p = pixels[i]
                    cache[_cache_key(*p, cache_bits)] = p
                i += 1
            continue
        p = pixels[i]
        if cache_size:
            key = _cache_key(*p, cache_bits)
            if cache[key] == p:
                tokens.append(("C", key))
                bump(0, 280 + key)
                i += 1
                continue
            cache[key] = p
        tokens.append(("L", p))
        bump(0, p[1])
        bump(1, p[0])
        bump(2, p[2])
        bump(3, p[3])
        i += 1

    bw = LsbBitWriter()
    bw.write(orig_w - 1, 14)  # header carries the ORIGINAL dims
    bw.write(orig_h - 1, 14)
    bw.write(1 if ch == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    for kind, data in chain:  # transform chain, stream order
        bw.write(1, 1)
        if kind == "sg":
            bw.write(2, 2)
        elif kind == "pred":
            bw.write(0, 2)
            size_bits, tw, th, tile_px = data
            bw.write(size_bits - 2, 3)
            _write_image(bw, tile_px, tw, th)
        elif kind == "color":
            bw.write(1, 2)
            size_bits, tw, th, tile_px = data
            bw.write(size_bits - 2, 3)
            _write_image(bw, tile_px, tw, th)
        else:  # cidx
            bw.write(3, 2)
            psize, dpal_px = data
            bw.write(psize - 1, 8)
            _write_image(bw, dpal_px, psize, 1)
    bw.write(0, 1)  # end of transform chain
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    groups_to_write = 1
    if meta_groups == 2:  # parity-tiled meta-prefix image
        bw.write(1, 1)
        msize = 2  # 4-px tiles: maximal group switching
        bw.write(msize - 2, 3)
        mtw = (w + 3) >> msize
        mth = (h + 3) >> msize
        meta_px = [
            (0, (tx + ty) % 2, 0, 255)
            for ty in range(mth)
            for tx in range(mtw)
        ]
        _write_image(bw, meta_px, mtw, mth)
        # the decoder derives the group count from the meta image
        # (max id + 1) — a single-tile image collapses to 1 group
        groups_to_write = max(p[1] for p in meta_px) + 1
    else:
        bw.write(0, 1)  # no meta-huffman
    alphabets = (256 + 24 + cache_size,) + _ALPHABETS[1:]
    for _ in range(groups_to_write):  # identical groups: any tile maps
        emit = []
        for t, size in enumerate(alphabets):
            emit.append(
                _write_code(bw, freqs[t] or {0: 1}, size)
            )
    g_map, r_map, b_map, a_map, d_map = emit
    for tok in tokens:
        if tok[0] == "L":
            r, g, b, a = tok[1]
            for code in (g_map[g], r_map[r], b_map[b], a_map[a]):
                bw.write(*code)
        elif tok[0] == "B":
            _, lsym, lxv, lbits, dsym, dxv, dbits = tok
            bw.write(*g_map[256 + lsym])
            if lbits:
                bw.write(lxv, lbits)
            bw.write(*d_map[dsym])
            if dbits:
                bw.write(dxv, dbits)
        else:  # cache hit
            bw.write(*g_map[280 + tok[1]])
    return _container(bw)


def _container(bw: "LsbBitWriter") -> bytes:
    return chunk(b"RIFF", b"WEBP" + chunk(b"VP8L", b"\x2f" + bw.getvalue()))


def _write_image(bw: "LsbBitWriter", pixels: list, w: int, h: int) -> None:
    """Write one literal-coded sub-image (transform tiles, palette
    entries, the meta-prefix image): no cache, no meta bit — the
    minimal legal spatially-coded image the reader's recursion
    expects."""
    if len(pixels) != w * h:
        raise AssertionError("sub-image pixel count mismatch")
    freqs: list[dict[int, int]] = [{} for _ in range(5)]
    for p in pixels:
        for t, v in ((0, p[1]), (1, p[0]), (2, p[2]), (3, p[3])):
            freqs[t][v] = freqs[t].get(v, 0) + 1
    bw.write(0, 1)  # no color cache
    maps = [
        _write_code(bw, freqs[t] or {0: 1}, size)
        for t, size in enumerate(_ALPHABETS)
    ]
    gm, rm, bm, am, _dm = maps
    for p in pixels:
        for code in (gm[p[1]], rm[p[0]], bm[p[2]], am[p[3]]):
            bw.write(*code)


def _decode_table(lengths: dict[int, int]):
    walk = huffman.canonical_walk(huffman.length_order(lengths))
    return huffman.decode_table(walk)


def _read_code(
    br: "LsbBitReader", alphabet_size: int
) -> tuple[dict[tuple[int, int], int], int]:
    """Read one prefix code -> bit-serial decode table."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first = br.read(8) if br.read(1) else br.read(1)
        if num_symbols == 2:
            second = br.read(8)
            # positional, NOT canonical-by-id: symbols[0] -> 0
            return {(1, 0): first, (1, 1): second}, 1
        return {(0, 0): first}, 0
    num_cl = 4 + br.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_cl):
        l = br.read(3)
        if l:
            cl_lengths[_CL_ORDER[i]] = l
    cl_table, cl_max = _decode_table(cl_lengths)
    if br.read(1):  # use_length: explicit cap on coded entries
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    sym = 0
    prev = 8  # spec default for repeat-previous before any literal
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = read_symbol(br, cl_table, cl_max)
        if cl < 16:
            if cl:
                lengths[sym] = cl
                prev = cl
            sym += 1
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym < alphabet_size:
                    lengths[sym] = prev
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:
            sym += 11 + br.read(7)
    return _decode_table(lengths)


def parse(payload: bytes):
    """(width, height, pixel_array[h, w, 3|4]) from WebP-lossless
    bytes; 3 channels when the header's alpha-hint is clear."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WEBP container")
    vp8l = None
    for tag, body, _ in walk(payload, 12):
        if tag == b"VP8L":
            vp8l = body
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "only WebP-lossless (VP8L) is supported by PixmapCodec"
            )
    if vp8l is None:
        raise ValueError("no VP8L chunk in WEBP container")
    if vp8l[:1] != b"\x2f":
        raise ValueError("bad VP8L signature byte")
    br = LsbBitReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_used = br.read(1)
    if br.read(3):
        raise ValueError("unsupported VP8L version")
    # ordered transform chain (RFC 9649 §3): each type at most
    # once; color-indexing shrinks the CODED width for everything
    # read after it (pixel bundling)
    transforms: list[tuple[int, tuple | None]] = []
    seen: set[int] = set()
    cur_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform type")
        seen.add(ttype)
        if ttype == 2:  # subtract-green: no payload, self-inverse
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / color: tile sub-image
            size_bits = br.read(3) + 2
            tw = (cur_w + (1 << size_bits) - 1) >> size_bits
            th = (h + (1 << size_bits) - 1) >> size_bits
            tiles = _read_pixels(br, tw, th)
            transforms.append((ttype, (size_bits, tw, tiles)))
        else:  # color-indexing: delta-coded palette + bundling
            psize = br.read(8) + 1
            pal = _read_pixels(br, psize, 1).astype(np.int64)
            pal = (np.cumsum(pal, axis=0) % 256).astype(np.uint8)
            width_bits = _bundle_bits(psize)
            transforms.append((3, (pal, width_bits, cur_w)))
            cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
    out = _read_pixels(br, cur_w, h, allow_meta=True)
    # inverse transforms apply in REVERSE stream order
    for ttype, data in reversed(transforms):
        if ttype == 2:
            out[:, 0] += out[:, 1]  # uint8 wraps mod 256
            out[:, 2] += out[:, 1]
        elif ttype == 0:
            out = _inv_predictor(out, cur_w, h, *data)
        elif ttype == 1:
            out = _inv_color(out, cur_w, h, *data)
        else:
            pal, width_bits, full_w = data
            out = _inv_cidx(
                out, cur_w, h, pal, width_bits, full_w
            )
            cur_w = full_w
    px = out.reshape(h, w, 4)
    if not alpha_used:
        px = px[:, :, :3]
    return w, h, px


def _read_pixels(br: "LsbBitReader", w: int, h: int, allow_meta: bool = False
) -> "np.ndarray":
    """Decode one spatially-coded image (RFC 9649 §5): color-cache
    info, optional meta-prefix image (main ARGB image only),
    prefix-code group(s), then the literal/LZ77/cache pixel stream.
    Returns uint8 [w*h, 4] RGBA. Transform sub-images and the
    meta image itself recurse through this same path (allow_meta
    False — the spec nests at most one level)."""
    if br.read(1):  # color-cache-info
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color-cache bits out of range")
    else:
        cache_bits = 0
    meta_idx = None
    msize = mtw = 0
    num_groups = 1
    if allow_meta and br.read(1):  # meta prefix-code image
        msize = br.read(3) + 2
        mtw = (w + (1 << msize) - 1) >> msize
        mth = (h + (1 << msize) - 1) >> msize
        mpx = _read_pixels(br, mtw, mth)
        meta_idx = [
            (int(p[0]) << 8) | int(p[1]) for p in mpx
        ]  # group id = red<<8 | green
        num_groups = max(meta_idx) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    alphabets = (256 + 24 + cache_size,) + _ALPHABETS[1:]
    groups = [
        [_read_code(br, a) for a in alphabets]
        for _ in range(num_groups)
    ]
    dist_map = DIST_TABLE
    cache = [(0, 0, 0, 0)] * cache_size
    n = w * h
    out = np.zeros((n, 4), dtype=np.uint8)
    i = 0
    tables = groups[0]
    while i < n:
        if meta_idx is not None:
            y, x = divmod(i, w)
            tables = groups[
                meta_idx[(y >> msize) * mtw + (x >> msize)]
            ]
        gsym = read_symbol(br, *tables[0])
        if gsym < 256:
            r = read_symbol(br, *tables[1])
            b = read_symbol(br, *tables[2])
            a = read_symbol(br, *tables[3])
            out[i] = (r, gsym, b, a)
            if cache_size:
                cache[
                    _cache_key(r, gsym, b, a, cache_bits)
                ] = (r, gsym, b, a)
            i += 1
        elif gsym < 280:  # LZ77 backward reference
            length = prefix_read(gsym - 256, br)
            dcode = prefix_read(
                read_symbol(br, *tables[4]), br
            )
            if dcode > 120:
                dist = dcode - 120
            else:  # 2-D neighborhood map, clamped to >= 1
                xoff, yoff = dist_map[dcode]
                dist = max(xoff + yoff * w, 1)
            if dist > i or i + length > n:
                raise ValueError(
                    "VP8L backward reference out of range"
                )
            for _ in range(length):  # may self-overlap (run coding)
                r, g, b, a = (int(v) for v in out[i - dist])
                out[i] = (r, g, b, a)
                if cache_size:
                    cache[
                        _cache_key(r, g, b, a, cache_bits)
                    ] = (r, g, b, a)
                i += 1
        else:  # color-cache hit
            idx = gsym - 280
            if idx >= cache_size:
                raise ValueError("color-cache symbol without a cache")
            out[i] = cache[idx]
            i += 1
    return out


def _inv_predictor(
    res: "np.ndarray",
    w: int,
    h: int,
    size_bits: int,
    tw: int,
    tiles: "np.ndarray",
) -> "np.ndarray":
    """Inverse predictor transform: reconstruct sequentially —
    predictions read already-reconstructed neighbors. Mode comes
    from the tile image's green channel; the first pixel is
    predicted black, the first row L-predicted, the first column
    T-predicted (spec edge rules)."""
    buf = res.astype(np.int32)
    n = w * h
    for i in range(n):
        y, x = divmod(i, w)
        if i == 0:
            pred = (0, 0, 0, 255)
        elif y == 0:
            pred = tuple(buf[i - 1])
        elif x == 0:
            pred = tuple(buf[i - w])
        else:
            mode = int(
                tiles[(y >> size_bits) * tw + (x >> size_bits)][1]
            )
            if mode > 13:
                raise ValueError(
                    f"invalid VP8L predictor mode {mode}"
                )
            pred = _predict(mode, buf, i, w)
        for k in range(4):
            buf[i][k] = (int(buf[i][k]) + pred[k]) & 0xFF
    return buf.astype(np.uint8)


def _inv_color(
    res: "np.ndarray",
    w: int,
    h: int,
    size_bits: int,
    tw: int,
    tiles: "np.ndarray",
) -> "np.ndarray":
    """Inverse color transform (RFC 9649 §3.3): per-tile signed
    3.5-fixed-point cross-channel deltas; green_to_red rides the
    tile pixel's BLUE channel, green_to_blue its green,
    red_to_blue its red; red reconstructs before feeding the
    red_to_blue term, exactly as the spec sequences it."""
    out = res.copy()
    n = w * h
    for i in range(n):
        y, x = divmod(i, w)
        cte = tiles[(y >> size_bits) * tw + (x >> size_bits)]
        g2r, g2b, r2b = _s8(int(cte[2])), _s8(int(cte[1])), _s8(int(cte[0]))
        g = _s8(int(out[i][1]))
        r = (int(out[i][0]) + ((g2r * g) >> 5)) & 0xFF
        b = (int(out[i][2]) + ((g2b * g) >> 5)) & 0xFF
        b = (b + ((r2b * _s8(r)) >> 5)) & 0xFF
        out[i][0] = r
        out[i][2] = b
    return out


def _inv_cidx(
    packed: "np.ndarray",
    packed_w: int,
    h: int,
    pal: "np.ndarray",
    width_bits: int,
    full_w: int,
) -> "np.ndarray":
    """Inverse color-indexing transform: unbundle 8>>width_bits-bit
    indices from each coded pixel's green channel (first pixel in
    the least-significant bits) and materialize through the
    delta-decoded palette; out-of-range indices fail loud."""
    bpp = 8 >> width_bits
    mask = (1 << width_bits) - 1
    psize = len(pal)
    out = np.zeros((full_w * h, 4), np.uint8)
    for y in range(h):
        base = y * packed_w
        for x in range(full_w):
            gbyte = int(packed[base + (x >> width_bits)][1])
            idx = (gbyte >> (bpp * (x & mask))) & ((1 << bpp) - 1)
            if idx >= psize:
                raise ValueError(
                    "VP8L color-index out of palette range"
                )
            out[y * full_w + x] = pal[idx]
    return out
