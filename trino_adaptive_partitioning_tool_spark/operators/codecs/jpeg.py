"""JPEG (ITU-T T.81): baseline sequential (SOF0) and progressive (SOF2).

Both frame types decode into one per-component coefficient store laid
out on the MCU grid: the baseline scan fills it in one pass, the
progressive scans (spectral selection + successive approximation)
refine it scan by scan. One reconstruct step then dequantizes, runs the
separable float IDCT, upsamples chroma and converts YCbCr to RGB with
libjpeg-style 16.16 fixed-point constants, so decoded RGB is exact
integer arithmetic a SQL oracle can replay. Arithmetic coding and the
other SOFn variants are rejected loudly — this codec never fakes a
result.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import huffman
from .bitio import MsbBitReader, MsbBitWriter
from .huffman import read_symbol


def _zigzag_order() -> list[int]:
    """Stream position k holds raster index ZIGZAG[k]: the classic
    anti-diagonal walk, generated rather than transcribed."""
    order, x, y = [], 0, 0
    for _ in range(64):
        order.append(y * 8 + x)
        if (x + y) % 2 == 0:  # walking up-right
            if x == 7:
                y += 1
            elif y == 0:
                x += 1
            else:
                x, y = x + 1, y - 1
        else:  # walking down-left
            if y == 7:
                x += 1
            elif x == 0:
                y += 1
            else:
                x, y = x - 1, y + 1
    return order


ZIGZAG = _zigzag_order()

# orthonormal 8x8 DCT-II basis: F = M @ (block-128) @ M.T, inverse
# block = M.T @ F @ M (separable float IDCT; for the DC-only blocks
# the certified synth corpus uses, the result is integer-exact)
_DCT = np.array(
    [
        [
            (math.sqrt(1 / 8) if u == 0 else 0.5)
            * math.cos((2 * x + 1) * u * math.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# canonical Huffman tables carried in DHT (the decoder reads them from
# the file — any valid table works, so these are generated, not
# transcribed from Annex K): 12 DC size categories at 5 bits, every AC
# (run, size) symbol + EOB + ZRL at 9 bits. Progressive AC scans also
# code runs of all-zero-band blocks as EOBn ((r << 4) | 0, r = 1..14):
# 192 symbols at 9 bits, max code 191 < 511, so the reserved all-ones
# pattern never occurs.
_DC_LENGTHS = dict.fromkeys(range(12), 5)
_AC_SYMBOLS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 12)]
_AC_LENGTHS = dict.fromkeys(_AC_SYMBOLS, 9)
_AC_EOBN_LENGTHS = dict.fromkeys(_AC_SYMBOLS + [r << 4 for r in range(1, 15)], 9)


def _segment(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _tables(ac_lengths: dict[int, int]) -> tuple[dict, dict, bytes]:
    """(DC codes, AC codes, DHT segment) — both sides of one table."""
    (dc_bits, dc_vals), (ac_bits, ac_vals) = (
        huffman.jpeg_table(_DC_LENGTHS), huffman.jpeg_table(ac_lengths)
    )
    dht = _segment(
        0xFFC4,
        b"\x00" + bytes(dc_bits) + bytes(dc_vals)
        + b"\x10" + bytes(ac_bits) + bytes(ac_vals),
    )
    return (
        huffman.canonical_codes(_DC_LENGTHS),
        huffman.canonical_codes(ac_lengths),
        dht,
    )


_BASELINE_TABLES = _tables(_AC_LENGTHS)
_PROGRESSIVE_TABLES = _tables(_AC_EOBN_LENGTHS)
_DQT = _segment(0xFFDB, b"\x00" + bytes([1] * 64))  # unit quant table


# libjpeg-style 16.16 fixed-point YCbCr->RGB: pure int64 arithmetic
# (arithmetic >>16 == floor division), replayable bit-for-bit in a
# SQL oracle via floor((...)/65536.0)
def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    yy = y.astype(np.int64) << 16
    cb1 = cb.astype(np.int64) - 128
    cr1 = cr.astype(np.int64) - 128
    half = 32768
    r = (yy + 91881 * cr1 + half) >> 16
    g = (yy - 22554 * cb1 - 46802 * cr1 + half) >> 16
    b = (yy + 116130 * cb1 + half) >> 16
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# BT.601 full-range forward transform, same 16.16 fixed-point style
# as ycbcr_to_rgb (luma weights sum to exactly 65536)
def rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = px[:, :, 0].astype(np.int64)
    g = px[:, :, 1].astype(np.int64)
    b = px[:, :, 2].astype(np.int64)
    half = 32768
    y = (19595 * r + 38470 * g + 7471 * b + half) >> 16
    cb = ((-11059 * r - 21709 * g + 32768 * b + half) >> 16) + 128
    cr = ((32768 * r - 27439 * g - 5329 * b + half) >> 16) + 128
    clip = lambda p: np.clip(p, 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


# -- encoder --------------------------------------------------------------
def _pad(a: np.ndarray, mult: int) -> np.ndarray:
    """Edge-pad a plane to multiples of ``mult``, like any real encoder."""
    ph, pw = (-a.shape[0]) % mult, (-a.shape[1]) % mult
    return np.pad(a, ((0, ph), (0, pw)), mode="edge") if ph or pw else a


def _coefficients(plane: np.ndarray) -> np.ndarray:
    """Forward DCT of an 8-multiple uint8 plane, unit quantization:
    int64 [block rows, block cols, 64] in zigzag order."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
        .astype(np.float64) - 128.0
    )
    q = np.round(_DCT @ blocks @ _DCT.T).astype(np.int64)
    return q.reshape(h // 8, w // 8, 64)[..., ZIGZAG]


def _frame(
    sof: int, h: int, w: int, factors: list[int], dht: bytes, dri: bytes = b""
) -> bytes:
    """SOI, DQT, optional DRI, SOFn and DHT; component i + 1 samples at
    factors[i] both ways and uses quant table 0."""
    comps = b"".join(bytes([i + 1, (f << 4) | f, 0]) for i, f in enumerate(factors))
    sof_body = struct.pack(">BHHB", 8, h, w, len(factors)) + comps
    return b"\xff\xd8" + _DQT + dri + _segment(sof, sof_body) + dht


def _sos(comp_ids, ss: int, se: int, ah: int, al: int) -> bytes:
    body = (
        bytes([len(comp_ids)])
        + b"".join(bytes([cid, 0x00]) for cid in comp_ids)
        + bytes([ss, se, (ah << 4) | al])
    )
    return _segment(0xFFDA, body)


def _put_sized(bw: MsbBitWriter, codes: dict, prefix: int, v: int) -> None:
    """Huffman symbol ``prefix | size`` then v's ``size`` magnitude bits."""
    size = (v if v > 0 else -v).bit_length()
    bw.write(*codes[prefix | size])
    if size:
        bw.write(v + (1 << size) - 1 if v < 0 else v, size)


def _put_ac(bw: MsbBitWriter, ac: dict, zz: list[int]) -> int:
    """Run/size-code zz[1:] up to its last nonzero value (ZRL per 16
    zeros); returns that value's index, 0 when zz[1:] is all zero."""
    last = max((k for k in range(1, 64) if zz[k]), default=0)
    run = 0
    for k in range(1, last + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac[0xF0])
            run -= 16
        _put_sized(bw, ac, run << 4, zz[k])
        run = 0
    return last


def _put_eobrun(bw: MsbBitWriter, ac: dict, eobrun: int, bits=()) -> None:
    """An EOBn symbol for ``eobrun`` blocks (none when 0), then the
    buffered refinement ``bits``."""
    if eobrun:
        r = eobrun.bit_length() - 1
        bw.write(*ac[r << 4])
        if r:
            bw.write(eobrun - (1 << r), r)
    for b in bits:
        bw.write(b, 1)


def _scan_bytes(bw: MsbBitWriter) -> bytes:
    bw.align()
    return bw.getvalue()


def encode(
    y_plane: np.ndarray,
    cb_plane: np.ndarray | None = None,
    cr_plane: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder (quant tables all ones ==
    max quality). Takes YCbCr planes directly — gray when cb/cr are
    None; for '420' the chroma planes arrive at half resolution —
    so a generator can pin the exact coefficients the decoder must
    recover (RGB<->YCbCr never enters the certified path). Planes
    are edge-padded to MCU multiples like any real encoder.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that many MCUs (byte-aligned, DC predictors reset) — the
    form real encoders emit for error resilience, exercising the
    decoder's restart path."""
    gray = cb_plane is None
    h, w = y_plane.shape
    if subsampling not in ("444", "420"):
        raise ValueError("encoder supports 4:4:4 and 4:2:0 only")
    sub = 1 if (gray or subsampling == "444") else 2
    yp = _pad(np.asarray(y_plane, dtype=np.uint8), 8 * sub)
    planes, factors = [yp], [sub]
    if not gray:
        # chroma blocks are never subsampled further
        planes += [_pad(np.asarray(p, np.uint8), 8) for p in (cb_plane, cr_plane)]
        factors += [1, 1]
        if planes[1].shape != (yp.shape[0] // sub, yp.shape[1] // sub):
            raise ValueError("chroma plane shape mismatch for subsampling")
    coefs = [_coefficients(p) for p in planes]
    dc, ac, dht = _BASELINE_TABLES
    bw = MsbBitWriter(stuffed=True)
    pred = [0] * len(planes)
    mcus_x = yp.shape[1] // (8 * sub)
    for m in range(yp.shape[0] // (8 * sub) * mcus_x):
        if restart_interval and m and m % restart_interval == 0:
            bw.marker(0xD0 + (m // restart_interval - 1) % 8)
            pred = [0] * len(planes)
        my, mx = divmod(m, mcus_x)
        for ci, fac in enumerate(factors):
            for by in range(fac):
                for bx in range(fac):
                    zz = coefs[ci][my * fac + by, mx * fac + bx].tolist()
                    _put_sized(bw, dc, 0, zz[0] - pred[ci])
                    pred[ci] = zz[0]
                    if _put_ac(bw, ac, zz) < 63:
                        bw.write(*ac[0x00])  # EOB
    dri = (
        _segment(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        _frame(0xFFC0, h, w, factors, dht, dri)
        + _sos(range(1, len(planes) + 1), 0, 63, 0, 0)
        + _scan_bytes(bw)
        + b"\xff\xd9"
    )


def encode_progressive(
    y_plane: np.ndarray,
    cb_plane: np.ndarray | None = None,
    cr_plane: np.ndarray | None = None,
) -> bytes:
    """Progressive JPEG encoder (SOF2, spectral selection +
    successive approximation — the standard web scan script shape):
    one interleaved DC-first scan (Al=1), a DC refinement scan,
    then per-component AC-first (Ss=1..63, Al=1) and AC-refinement
    scans with EOBn run coding and buffered correction bits. Gray
    or YCbCr 4:4:4 (all sampling factors 1); unit quant tables, so
    constant blocks survive the full 4/8-scan pipeline bit-exactly
    (the certified-oracle property, same as the baseline twin)."""
    h, w = y_plane.shape
    planes = [_pad(np.asarray(y_plane, np.uint8), 8)]
    if cb_plane is not None:
        planes += [_pad(np.asarray(p, np.uint8), 8) for p in (cb_plane, cr_plane)]
        if not all(p.shape == planes[0].shape for p in planes):
            raise ValueError("4:4:4 planes must share dimensions")
    coefs = [_coefficients(p).tolist() for p in planes]
    blocks = [(by, bx) for by in range(len(coefs[0])) for bx in range(len(coefs[0][0]))]
    ncomp = len(planes)
    comp_ids = range(1, ncomp + 1)
    dc, ac, dht = _PROGRESSIVE_TABLES
    out = _frame(0xFFC2, h, w, [1] * ncomp, dht)

    # scan 1: interleaved DC first pass, Al=1 (arithmetic shift)
    bw = MsbBitWriter(stuffed=True)
    pred = [0] * ncomp
    for by, bx in blocks:
        for ci in range(ncomp):
            v = coefs[ci][by][bx][0] >> 1
            _put_sized(bw, dc, 0, v - pred[ci])
            pred[ci] = v
    out += _sos(comp_ids, 0, 0, 0, 1) + _scan_bytes(bw)

    # scan 2: DC refinement, bit 0, raw bits (no huffman)
    bw = MsbBitWriter(stuffed=True)
    for by, bx in blocks:
        for ci in range(ncomp):
            bw.write(coefs[ci][by][bx][0] & 1, 1)
    out += _sos(comp_ids, 0, 0, 1, 0) + _scan_bytes(bw)

    # per component: AC first pass (Al=1)
    for ci in range(ncomp):
        bw = MsbBitWriter(stuffed=True)
        eobrun = 0
        for by, bx in blocks:
            vals = [(abs(v) >> 1) * (1 if v >= 0 else -1) for v in coefs[ci][by][bx]]
            if not any(vals[1:]):
                eobrun += 1
                if eobrun == 0x7FFF:
                    _put_eobrun(bw, ac, eobrun)
                    eobrun = 0
                continue
            _put_eobrun(bw, ac, eobrun)
            eobrun = 0
            if _put_ac(bw, ac, vals) < 63:
                eobrun += 1
        _put_eobrun(bw, ac, eobrun)
        out += _sos([ci + 1], 1, 63, 0, 1) + _scan_bytes(bw)

    # per component: AC refinement, corrections buffered across EOBs
    for ci in range(ncomp):
        bw = MsbBitWriter(stuffed=True)
        eobrun = 0
        eob_bits: list[int] = []
        for by, bx in blocks:
            band = coefs[ci][by][bx]
            absv = [abs(v) for v in band]
            eob_k = max((k for k in range(1, 64) if absv[k] == 1), default=0)
            run = 0
            pend: list[int] = []  # corrections since last symbol
            for k in range(1, 64):
                t = absv[k]
                if t == 0:
                    run += 1
                    continue
                while run > 15 and k <= eob_k:
                    _put_eobrun(bw, ac, eobrun, eob_bits)
                    eobrun, eob_bits = 0, []
                    bw.write(*ac[0xF0])
                    run -= 16
                    _put_eobrun(bw, ac, 0, pend)
                    pend = []
                if t > 1:  # history-nonzero: buffer correction
                    pend.append(t & 1)
                    continue
                _put_eobrun(bw, ac, eobrun, eob_bits)
                eobrun, eob_bits = 0, []
                bw.write(*ac[(run << 4) | 1])
                bw.write(1 if band[k] > 0 else 0, 1)
                _put_eobrun(bw, ac, 0, pend)
                pend = []
                run = 0
            if run > 0 or pend:
                eobrun += 1
                eob_bits.extend(pend)
                if eobrun == 0x7FFF or len(eob_bits) > 900:
                    _put_eobrun(bw, ac, eobrun, eob_bits)
                    eobrun, eob_bits = 0, []
        _put_eobrun(bw, ac, eobrun, eob_bits)
        out += _sos([ci + 1], 1, 63, 1, 0) + _scan_bytes(bw)
    return out + b"\xff\xd9"


def encode_pixels(px: np.ndarray) -> bytes:
    """Baseline JPEG of a decoded [h, w, 1|3] raster: gray as is, RGB
    forward-transformed (fixed-point BT.601) at 4:4:4, max quality."""
    if px.shape[2] == 1:
        return encode(px[:, :, 0])
    return encode(*rgb_to_ycbcr(px), subsampling="444")


# -- decoder --------------------------------------------------------------
def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: a ``size``-bit magnitude code -> signed value."""
    return v - (1 << size) + 1 if v < (1 << (size - 1)) else v


def _mcu_grid(frame) -> tuple[int, int, int, int]:
    """(hmax, vmax, MCU rows, MCU cols) of a frame."""
    fh, fw, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    return hmax, vmax, -(-fh // (8 * vmax)), -(-fw // (8 * hmax))


def parse(payload: bytes):
    """(width, height, pixel_array[h, w, ch]): marker walk, up to 4
    quant / 8 Huffman tables from DQT/DHT, restart intervals, then the
    baseline scan or every progressive scan into the coefficient
    store, and one reconstruct."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[dict, int]] = {}
    frame = None  # (h, w, [(comp_id, hf, vf, tq)])
    coefs: dict[int, np.ndarray] = {}  # cid -> [block rows, cols, 64]
    progressive = scanned = False
    restart_interval = 0
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            if progressive and scanned:
                return _reconstruct(frame, coefs, qt)
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        length = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                qt[tq] = np.frombuffer(body, np.uint8, 64, i + 1).astype(np.int32)
                i += 65
        elif marker == 0xC4:  # DHT: canonical (bits, vals) tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("truncated JPEG DHT table")
                huff[(tc, th)] = huffman.decode_table(huffman.jpeg_walk(bits, vals))
                i += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fh, fw, comps)
            progressive = marker == 0xC2
            if progressive and any(c[1] != 1 or c[2] != 1 for c in comps):
                raise NotImplementedError(
                    "progressive JPEG with subsampling not supported"
                )
            _h, _v, mcus_y, mcus_x = _mcu_grid(frame)
            coefs = {
                cid: np.zeros((mcus_y * vf, mcus_x * hf, 64), np.int64)
                for cid, hf, vf, _ in comps
            }
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_tables = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan_tables[cid] = (tt >> 4, tt & 0xF)
            br = MsbBitReader(payload, pos + 2 + length, stuffed=True)
            if not progressive:
                _baseline_scan(
                    br, payload, frame, coefs, huff, scan_tables, restart_interval
                )
                return _reconstruct(frame, coefs, qt)
            if restart_interval:
                raise NotImplementedError(
                    "progressive JPEG with restart markers not supported"
                )
            if br.end >= len(payload):
                raise ValueError("truncated progressive JPEG scan")
            ss, se, aa = body[1 + 2 * ns : 4 + 2 * ns]
            _progressive_scan(br, coefs, huff, scan_tables, ss, se, aa >> 4, aa & 0xF)
            scanned = True
            pos = br.end
            continue
        # APPn / COM / other known-length segments: skip
        pos += 2 + length
    raise ValueError("JPEG missing SOS scan")


def _restart(br: MsbBitReader, payload: bytes) -> MsbBitReader:
    """Consume the RSTn marker that ends ``br``'s segment (after any
    0xFF fill) and read on from the next segment."""
    end = br.end
    while end + 1 < len(payload) and payload[end + 1] == 0xFF:
        end += 1
    if end + 1 >= len(payload) or not 0xD0 <= payload[end + 1] <= 0xD7:
        raise ValueError("missing JPEG restart marker")
    return MsbBitReader(payload, end + 2, stuffed=True)


def _baseline_scan(
    br, payload, frame, coefs, huff, scan_tables, restart_interval
) -> None:
    """Decode the one interleaved baseline scan into ``coefs``: per MCU,
    each component's vf x hf blocks, DC predicted per component (reset
    at every restart)."""
    _fh, _fw, comps = frame
    _h, _v, mcus_y, mcus_x = _mcu_grid(frame)
    pred = dict.fromkeys(coefs, 0)
    for m in range(mcus_y * mcus_x):
        if restart_interval and m and m % restart_interval == 0:
            br = _restart(br, payload)
            pred = dict.fromkeys(coefs, 0)
        my, mx = divmod(m, mcus_x)
        for cid, hf, vf, _tq in comps:
            dc_tab = huff.get((0, scan_tables[cid][0]))
            ac_tab = huff.get((1, scan_tables[cid][1]))
            if dc_tab is None or ac_tab is None:
                raise ValueError("JPEG scan references missing DHT")
            store = coefs[cid]
            for by in range(vf):
                for bx in range(hf):
                    size = read_symbol(br, *dc_tab)
                    pred[cid] += _extend(br.read(size), size) if size else 0
                    zz = [0] * 64
                    zz[0] = pred[cid]
                    k = 1
                    while k < 64:
                        sym = read_symbol(br, *ac_tab)
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += sym >> 4
                        s = sym & 0xF
                        if k > 63:
                            raise ValueError("JPEG AC index overflow")
                        zz[k] = _extend(br.read(s), s)
                        k += 1
                    store[my * vf + by, mx * hf + bx] = zz


def _progressive_scan(br, coefs, huff, scan_tables, ss, se, ah, al) -> None:
    """Decode ONE progressive scan into ``coefs`` (T.81 G.2: spectral
    selection + successive approximation, DC first/refine + AC
    first/refine with EOBn runs and correction bits). All sampling
    factors are 1 (guarded at SOF2), so interleaved MCUs and
    non-interleaved block walks share the frame-wide block grid."""
    scan_cids = list(scan_tables)
    bh, bw = next(iter(coefs.values())).shape[:2]
    blocks = [(by, bx) for by in range(bh) for bx in range(bw)]
    if ss == 0:  # DC scan (interleaved over the scan's components)
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if ah == 0:  # first pass
            pred = dict.fromkeys(scan_cids, 0)
            for by, bx in blocks:
                for cid in scan_cids:
                    tab = huff.get((0, scan_tables[cid][0]))
                    if tab is None:
                        raise ValueError("missing DC DHT")
                    size = read_symbol(br, *tab)
                    pred[cid] += _extend(br.read(size), size) if size else 0
                    coefs[cid][by, bx, 0] = pred[cid] << al
        else:  # refinement: one raw bit per block
            for by, bx in blocks:
                for cid in scan_cids:
                    if br.read(1):
                        coefs[cid][by, bx, 0] |= 1 << al
        return

    # AC scans are non-interleaved: exactly one component
    if len(scan_cids) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid = scan_cids[0]
    tab = huff.get((1, scan_tables[cid][1]))
    if tab is None:
        raise ValueError("missing AC DHT")
    coef = coefs[cid]
    eobrun = 0
    if ah == 0:  # AC first pass
        for by, bx in blocks:
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = read_symbol(br, *tab)
                r, s_ = sym >> 4, sym & 0xF
                if s_ == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.read(r)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG AC index overflow")
                coef[by, bx, k] = _extend(br.read(s_), s_) << al
                k += 1
        return

    # AC refinement pass
    p1, m1 = 1 << al, -1 << al
    for by, bx in blocks:
        band = coef[by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = read_symbol(br, *tab)
                r, s_ = sym >> 4, sym & 0xF
                if s_ == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history coeffs
                else:
                    if s_ != 1:
                        raise ValueError("invalid refinement magnitude")
                    val = p1 if br.read(1) else m1
                while k <= se:
                    if band[k] != 0:
                        if br.read(1) and not (band[k] & p1):
                            band[k] += p1 if band[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    band[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if band[k] != 0 and br.read(1) and not (band[k] & p1):
                    band[k] += p1 if band[k] >= 0 else m1
                k += 1
            eobrun -= 1


def _reconstruct(frame, coefs, qt):
    """Dequantize, IDCT, upsample and color-convert the coefficient
    store: (width, height, pixel_array[h, w, 1|3])."""
    fh, fw, comps = frame
    hmax, vmax, _my, _mx = _mcu_grid(frame)
    full = []
    for cid, hf, vf, tq in comps:
        store = coefs[cid]
        rows, cols = store.shape[:2]
        blocks = np.zeros((rows, cols, 64))
        blocks[..., ZIGZAG] = store * qt[tq]
        px = _DCT.T @ blocks.reshape(rows, cols, 8, 8) @ _DCT
        p = (
            np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
            .transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        )
        if hf < hmax or vf < vmax:
            p = np.repeat(np.repeat(p, vmax // vf, 0), hmax // hf, 1)
        full.append(p[:fh, :fw])
    if len(full) == 1:
        return fw, fh, full[0][:, :, None]
    if len(full) == 3:
        return fw, fh, ycbcr_to_rgb(*full)
    raise ValueError("unsupported JPEG component count")
