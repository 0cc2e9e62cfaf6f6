"""FLAC (RFC 9639): STREAMINFO, CRC-checked frames, constant /
verbatim / fixed / LPC subframes, rice residuals, stereo decorrelation,
and the STREAMINFO MD5 verified on decode."""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .bitio import MsbBitReader, MsbBitWriter


# Real FLAC: STREAMINFO metadata, framed bitstream with CRC-8/CRC-16
# integrity, constant/verbatim/fixed-predictor/LPC subframes,
# rice/rice2 partitioned residuals, stereo decorrelation
# (left-side/right-side/mid-side), wasted-bits, and the STREAMINFO
# MD5 of the decoded stream verified on decode — a frame-order or
# sample-value bug cannot produce plausible output, it raises.
# frame-header sample-rate codes 1..11 (0: the STREAMINFO rate)
_RATES = (
    None, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000,
)
_RATE_CODES = {r: code for code, r in enumerate(_RATES) if r}


def _build_crc_table(poly: int, width: int) -> tuple:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return tuple(table)


_CRC8_TABLE = _build_crc_table(0x07, 8)
_CRC16_TABLE = _build_crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    # table-driven (poly 0x07): the per-bit loop costs 8 python
    # iterations per byte and runs twice per frame on encode AND
    # decode — interpreter time the standard 256-entry table removes
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    # table-driven (poly 0x8005), same rationale as _crc8
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
    return crc


def utf8_encode(v: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index)."""
    if v < 0x80:
        return bytes([v])
    for n in range(1, 7):
        if v < 1 << (6 + 5 * n):
            lead = (0xFF00 >> (n + 1)) & 0xFF
            return bytes([lead | (v >> (6 * n))]) + bytes(
                0x80 | ((v >> (6 * (n - 1 - i))) & 0x3F)
                for i in range(n)
            )
    raise ValueError("FLAC coded number out of range")


def utf8_decode(br: "MsbBitReader") -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if not 1 <= n <= 6:
        raise ValueError("invalid FLAC UTF-8 coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC UTF-8 continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (-v << 1) - 1


def write_residual(
    fw: "MsbBitWriter",
    res: list[int],
    n: int,
    order: int,
    partition_order: int,
    force_escape: bool,
) -> None:
    po = partition_order
    if po < 0 or n % (1 << po) or (n >> po) <= order:
        po = 0
    counts = [
        (n >> po) - (order if i == 0 else 0) for i in range(1 << po)
    ]
    params: list[int] = []
    idx = 0
    for cnt in counts:
        chunk = res[idx : idx + cnt]
        idx += cnt
        us = [_zigzag(v) for v in chunk]
        best_p, best_cost = 0, None
        for p in range(0, 31):
            cost = sum(u >> p for u in us) + cnt * (p + 1)
            if best_cost is None or cost < best_cost:
                best_p, best_cost = p, cost
        params.append(best_p)
    method = 0 if all(p <= 14 for p in params) and not force_escape else 1
    pbits = 4 + method
    esc = (1 << pbits) - 1
    fw.write(method, 2)
    fw.write(po, 4)
    idx = 0
    for p_i, cnt in enumerate(counts):
        chunk = res[idx : idx + cnt]
        idx += cnt
        if force_escape or params[p_i] >= esc:
            raw = max(
                ((v if v >= 0 else ~v).bit_length() + 1 for v in chunk),
                default=1,
            )
            if raw > 31:
                raise ValueError("FLAC residual exceeds escape width")
            fw.write(esc, pbits)
            fw.write(raw, 5)
            for v in chunk:
                fw.write(v & ((1 << raw) - 1), raw)
        else:
            p = params[p_i]
            fw.write(p, pbits)
            for v in chunk:
                u = _zigzag(v)
                fw.write_unary(u >> p)
                fw.write(u & ((1 << p) - 1), p)


def write_subframe(
    fw: "MsbBitWriter",
    data: list[int],
    bps: int,
    force_verbatim: bool,
    partition_order: int,
    force_escape: bool,
) -> None:
    n = len(data)
    # wasted bits: trailing zero bits common to every sample
    k = 0
    if not force_verbatim and any(data):
        k = min(
            (v & -v).bit_length() - 1 if v else bps for v in data
        )
        k = max(0, min(k, bps - 1))
    eff = [v >> k for v in data]
    ebps = bps - k

    def wasted() -> None:
        if k:
            fw.write(1, 1)
            fw.write(1, k)  # (k-1) zero bits then a one bit
        else:
            fw.write(0, 1)

    if force_verbatim:
        fw.write(0, 1)
        fw.write(1, 6)
        wasted()
        for v in eff:
            fw.write(v & ((1 << ebps) - 1), ebps)
        return
    if all(v == eff[0] for v in eff):
        fw.write(0, 1)
        fw.write(0, 6)
        wasted()
        fw.write(eff[0] & ((1 << ebps) - 1), ebps)
        return
    # best fixed predictor order by zigzag bit-length cost
    best_order, best_res, best_cost = 0, eff, None
    res = eff
    for order in range(0, min(4, n - 1) + 1):
        if order > 0:
            res = [res[i + 1] - res[i] for i in range(len(res) - 1)]
        cand = res if order else eff
        cost = sum(_zigzag(v).bit_length() for v in cand)
        if best_cost is None or cost < best_cost:
            best_cost, best_order, best_res = cost, order, list(cand)
    order, resid = best_order, best_res
    fw.write(0, 1)
    fw.write(0b001000 | order, 6)
    wasted()
    for v in eff[:order]:
        fw.write(v & ((1 << ebps) - 1), ebps)
    write_residual(
        fw, resid, n, order, partition_order, force_escape
    )


def encode(
    samples: np.ndarray,
    channels: int,
    sample_rate: int = 16000,
    block_size: int = 16,
    stereo_mode: str = "independent",
    force_verbatim: bool = False,
    partition_order: int = 0,
    force_escape: bool = False,
) -> bytes:
    """Interleaved int16 samples -> a real FLAC stream: fLaC magic,
    STREAMINFO (incl. MD5 of the unencoded stream), then fixed-
    blocking frames. stereo_mode (2-channel only) selects the
    channel assignment: independent / left_side / right_side /
    mid_side."""
    x = np.asarray(samples, dtype=np.int64)
    if channels < 1 or len(x) % channels:
        raise ValueError("sample count not a multiple of channels")
    n_total = len(x) // channels
    chans = [x[c::channels] for c in range(channels)]
    md5 = hashlib.md5(
        np.asarray(samples, dtype="<i2").tobytes()
    ).digest()
    frames_out: list[bytes] = []
    frame_idx = 0
    pos = 0
    sizes: list[int] = []
    while pos < n_total:
        n = min(block_size, n_total - pos)
        sizes.append(n)
        block = [
            [int(v) for v in c[pos : pos + n]] for c in chans
        ]
        if channels == 2 and stereo_mode != "independent":
            left, right = block
            side = [a - b for a, b in zip(left, right)]
            if stereo_mode == "left_side":
                ch_assign, subs = 8, [(left, 16), (side, 17)]
            elif stereo_mode == "right_side":
                ch_assign, subs = 9, [(side, 17), (right, 16)]
            elif stereo_mode == "mid_side":
                mid = [(a + b) >> 1 for a, b in zip(left, right)]
                ch_assign, subs = 10, [(mid, 16), (side, 17)]
            else:
                raise ValueError(f"unknown stereo mode {stereo_mode}")
        else:
            ch_assign = channels - 1
            subs = [(c, 16) for c in block]
        hdr = MsbBitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocking strategy
        bs_code = 0b0110 if n - 1 < 256 else 0b0111
        hdr.write(bs_code, 4)
        rate_code = _RATE_CODES.get(sample_rate, 0b1101)
        hdr.write(rate_code, 4)
        hdr.write(ch_assign, 4)
        hdr.write(0b100, 3)  # 16 bits per sample
        hdr.write(0, 1)  # reserved
        for b in utf8_encode(frame_idx):
            hdr.write(b, 8)
        hdr.write(n - 1, 8 if bs_code == 0b0110 else 16)
        if rate_code == 0b1101:
            hdr.write(sample_rate, 16)
        hbytes = bytearray(hdr.getvalue())
        hbytes.append(_crc8(bytes(hbytes)))
        fw = MsbBitWriter()
        for b in hbytes:
            fw.write(b, 8)
        for data, bps in subs:
            write_subframe(
                fw, data, bps, force_verbatim, partition_order,
                force_escape,
            )
        fw.align()
        body = fw.getvalue()
        frames_out.append(
            body + struct.pack(">H", _crc16(body))
        )
        pos += n
        frame_idx += 1
    si = MsbBitWriter()
    si.write(min(sizes, default=block_size), 16)
    si.write(max(sizes, default=block_size), 16)
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(15, 5)  # bps - 1
    si.write(n_total, 36)
    info = si.getvalue() + md5
    meta = bytes([0x80]) + len(info).to_bytes(3, "big") + info
    return b"fLaC" + meta + b"".join(frames_out)


def _read_residual(br: "MsbBitReader", n: int, order: int
) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 + method
    esc = (1 << pbits) - 1
    po = br.read(4)
    if n % (1 << po) or (n >> po) <= order:
        raise ValueError("invalid FLAC residual partition order")
    res: list[int] = []
    for p_i in range(1 << po):
        cnt = (n >> po) - (order if p_i == 0 else 0)
        p = br.read(pbits)
        if p == esc:
            raw = br.read(5)
            res.extend(
                br.read_signed(raw) if raw else 0 for _ in range(cnt)
            )
        else:
            for _ in range(cnt):
                u = (br.read_unary() << p) | br.read(p)
                res.append((u >> 1) ^ -(u & 1))
    return res


def read_subframe(br: "MsbBitReader", n: int, bps: int
) -> list[int]:
    if br.read(1):
        raise ValueError("reserved padding bit set in FLAC subframe")
    t = br.read(6)
    k = 0
    if br.read(1):  # wasted-bits flag
        k = br.read_unary() + 1
    ebps = bps - k
    if ebps <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if t == 0:  # constant
        vals = [br.read_signed(ebps)] * n
    elif t == 1:  # verbatim
        vals = [br.read_signed(ebps) for _ in range(n)]
    elif 8 <= t <= 12:  # fixed predictor, order t & 7
        order = t & 7
        if order > n:
            raise ValueError("FLAC predictor order exceeds block size")
        warm = [br.read_signed(ebps) for _ in range(order)]
        resid = _read_residual(br, n, order)
        coefs = ([], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1])[order]
        vals = list(warm)
        for i in range(order, n):
            pred = sum(
                c * vals[i - 1 - j] for j, c in enumerate(coefs)
            )
            vals.append(resid[i - order] + pred)
    elif t >= 32:  # LPC, order (t & 31) + 1
        order = (t & 31) + 1
        if order > n:
            raise ValueError("FLAC LPC order exceeds block size")
        warm = [br.read_signed(ebps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        resid = _read_residual(br, n, order)
        vals = list(warm)
        for i in range(order, n):
            pred = sum(
                c * vals[i - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            vals.append(resid[i - order] + pred)
    else:
        raise ValueError("reserved FLAC subframe type")
    return [v << k for v in vals]


def _parse_frame(
    payload: bytes,
    br: "MsbBitReader",
    channels: int,
    bps: int,
    stream_rate: int,
    out: list[list[int]],
) -> int:
    start = br.byte_pos
    if br.read(14) != 0b11111111111110:
        raise ValueError("bad FLAC frame sync code")
    if br.read(1):
        raise ValueError("reserved bit set in FLAC frame header")
    br.read(1)  # blocking strategy (number already UTF-8 coded)
    bs_code = br.read(4)
    rate_code = br.read(4)
    ch_assign = br.read(4)
    ss_code = br.read(3)
    if br.read(1):
        raise ValueError("reserved bit set in FLAC frame header")
    utf8_decode(br)  # frame/sample number
    if bs_code == 0:
        raise ValueError("reserved FLAC block size code")
    elif bs_code == 1:
        n = 192
    elif bs_code <= 5:
        n = 576 << (bs_code - 2)
    elif bs_code == 6:
        n = br.read(8) + 1
    elif bs_code == 7:
        n = br.read(16) + 1
    else:
        n = 256 << (bs_code - 8)
    if rate_code == 0:
        pass  # use stream rate
    elif rate_code <= 11:
        if _RATES[rate_code] != stream_rate:
            raise ValueError("FLAC frame sample rate mismatch")
    elif rate_code == 12:
        if br.read(8) * 1000 != stream_rate:
            raise ValueError("FLAC frame sample rate mismatch")
    elif rate_code == 13:
        if br.read(16) != stream_rate:
            raise ValueError("FLAC frame sample rate mismatch")
    elif rate_code == 14:
        if br.read(16) * 10 != stream_rate:
            raise ValueError("FLAC frame sample rate mismatch")
    else:
        raise ValueError("invalid FLAC frame sample rate code")
    if not br.aligned:
        raise ValueError("misaligned FLAC frame header")
    crc8_end = br.byte_pos
    if br.read(8) != _crc8(payload[start:crc8_end]):
        raise ValueError("FLAC frame header CRC-8 mismatch")
    ss_map = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
    if ss_code not in ss_map:
        raise ValueError("reserved FLAC sample size code")
    if ss_map[ss_code] != bps:
        raise ValueError("FLAC frame sample size mismatch")
    if ch_assign <= 7:
        if ch_assign + 1 != channels:
            raise ValueError("FLAC frame channel count mismatch")
        chans = [
            read_subframe(br, n, bps)
            for _ in range(channels)
        ]
    elif ch_assign in (8, 9, 10):
        if channels != 2:
            raise ValueError(
                "FLAC stereo decorrelation on non-stereo stream"
            )
        side_first = ch_assign == 9
        a = read_subframe(
            br, n, bps + (1 if side_first else 0)
        )
        b = read_subframe(
            br, n, bps + (0 if side_first else 1)
        )
        if ch_assign == 8:  # left/side
            chans = [a, [x - s for x, s in zip(a, b)]]
        elif ch_assign == 9:  # side/right
            chans = [[s + x for s, x in zip(a, b)], b]
        else:  # mid/side
            mids = [
                (m << 1) | (s & 1) for m, s in zip(a, b)
            ]
            chans = [
                [(m + s) >> 1 for m, s in zip(mids, b)],
                [(m - s) >> 1 for m, s in zip(mids, b)],
            ]
    else:
        raise ValueError("reserved FLAC channel assignment")
    br.align()
    crc16_end = br.byte_pos
    if br.read(16) != _crc16(payload[start:crc16_end]):
        raise ValueError("FLAC frame CRC-16 mismatch")
    for c in range(channels):
        out[c].extend(chans[c])
    return n


def parse(payload: bytes):
    """(frames_per_channel, channels, samples[int16 interleaved],
    sample_rate) for a FLAC stream. Verifies frame-header CRC-8,
    frame CRC-16 and the STREAMINFO MD5 of the decoded stream —
    any corruption or mis-assembly raises instead of returning
    wrong-but-plausible samples."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    last = False
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata header")
        b0 = payload[pos]
        last = bool(b0 & 0x80)
        btype = b0 & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) != size:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if size != 34:
                raise ValueError("malformed FLAC STREAMINFO")
            streaminfo = body
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type")
        pos += 4 + size
    if streaminfo is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    si = MsbBitReader(streaminfo)
    si.read(16)  # min block size
    si.read(16)  # max block size
    si.read(24)  # min frame size
    si.read(24)  # max frame size
    rate = si.read(20)
    channels = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    md5_expect = streaminfo[18:34]
    if bps != 16:
        raise ValueError("only 16-bit FLAC supported")
    out: list[list[int]] = [[] for _ in range(channels)]
    br = MsbBitReader(payload, pos)
    decoded = 0
    while decoded < total:
        decoded += _parse_frame(
            payload, br, channels, bps, rate, out
        )
    if decoded != total:
        raise ValueError("FLAC frame sizes overrun STREAMINFO total")
    samples = np.empty(decoded * channels, dtype=np.int16)
    for c in range(channels):
        arr = np.asarray(out[c], dtype=np.int64)
        if len(arr) and (arr.max() > 32767 or arr.min() < -32768):
            raise ValueError("decoded FLAC sample out of int16 range")
        samples[c::channels] = arr.astype(np.int16)
    if (
        hashlib.md5(samples.astype("<i2").tobytes()).digest()
        != md5_expect
    ):
        raise ValueError("FLAC STREAMINFO MD5 mismatch")
    return decoded, channels, samples, rate
