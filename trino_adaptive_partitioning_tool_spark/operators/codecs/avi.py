"""Motion-JPEG AVI: RIFF('AVI ') with hdrl, a movi list of 00dc frames
and an idx1 index."""

from __future__ import annotations

import struct

from . import jpeg
from .riff import chunk, walk


def _list(ltype: bytes, body: bytes) -> bytes:
    return chunk(b"LIST", ltype + body)


def encode(
    frames: list[bytes], w: int, h: int, fps: int = 10
) -> bytes:
    """Motion-JPEG AVI: RIFF('AVI ') with hdrl (avih + vids strl,
    handler MJPG), a movi LIST of 00dc chunks (one baseline JPEG
    per frame, even-padded) and an idx1 index whose offsets point
    back into movi — the container layout every legacy capture
    pipeline emits."""
    n = len(frames)
    max_frame = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<10I16x",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_frame * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, max_frame, w, h,
    )
    strh = struct.pack(
        "<4s4sIHH8I4h",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps, 0, n, max_frame, 10_000, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3,
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        chunk(b"avih", avih)
        + _list(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b""
    idx_entries = []
    for f in frames:
        # idx1 offsets are relative to the 'movi' fourcc: the first
        # chunk id sits 4 bytes past it
        idx_entries.append((4 + len(movi_body), len(f)))
        movi_body += chunk(b"00dc", f)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, size)
            for off, size in idx_entries
        ),
    )
    return chunk(b"RIFF", b"AVI " + hdrl + _list(b"movi", movi_body) + idx1)


def parse(payload: bytes):
    """(width, height, fps, [jpeg_frame_bytes...]) for an MJPEG AVI.
    Validates the header/stream frame counts against the movi walk
    AND replays the idx1 index against the actual chunk offsets —
    a reordered, dropped or mis-framed chunk raises instead of
    yielding a plausible frame sequence."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if 8 + riff_size > len(payload):
        raise ValueError("truncated AVI payload")
    avih = None
    strh = None
    frames: list[bytes] = []
    offsets: list[tuple[int, int]] = []
    idx1: list[tuple[int, int]] | None = None
    for cid, body, _ in walk(payload, 12, 8 + riff_size):
        if cid == b"LIST" and body[:4] == b"hdrl":
            for hcid, hbody, _ in walk(body, 4):
                if hcid == b"avih":
                    avih = struct.unpack_from("<10I", hbody, 0)
                elif hcid == b"LIST" and hbody[:4] == b"strl":
                    scid, sbody, _ = next(walk(hbody, 4), (None, b"", 0))
                    if scid != b"strh":
                        raise ValueError("AVI strl missing strh chunk")
                    strh = struct.unpack_from("<4s4sIHH8I", sbody, 0)
        elif cid == b"LIST" and body[:4] == b"movi":
            for mcid, mbody, mpos in walk(body, 4):
                if mcid == b"00dc":
                    frames.append(mbody)
                    offsets.append((mpos, len(mbody)))
        elif cid == b"idx1":
            if len(body) % 16:
                raise ValueError("malformed AVI idx1 chunk")
            idx1 = [
                (off, esize)
                for eid, _flags, off, esize in struct.iter_unpack("<4sIII", body)
                if eid == b"00dc"
            ]
    if avih is None or strh is None:
        raise ValueError("AVI missing avih or strh header")
    if strh[0] != b"vids" or strh[1] != b"MJPG":
        raise ValueError("only MJPG video AVI supported")
    # strh tuple: fccType, handler, flags, priority, language,
    # initialFrames, scale, rate, start, length, buf, quality, size
    scale, rate = strh[6], strh[7]
    if scale == 0 or rate == 0:
        raise ValueError("malformed AVI stream timing")
    n_frames, w, h = avih[4], avih[8], avih[9]
    if len(frames) != n_frames or strh[9] != n_frames:
        raise ValueError("AVI frame count disagrees with headers")
    if idx1 is None:
        raise ValueError("AVI missing idx1 index")
    if idx1 != offsets:
        raise ValueError("AVI idx1 disagrees with movi chunk layout")
    return w, h, rate // scale, frames


def decode_frames(payload: bytes):
    """(width, height, fps, [pixel_array[h, w, ch]...]): parse, then
    decode every JPEG frame; a frame whose dims disagree with the
    header raises."""
    w, h, fps, jpegs = parse(payload)
    frames = []
    for j in jpegs:
        fw, fh, px = jpeg.parse(j)
        if (fw, fh) != (w, h):
            raise ValueError("AVI frame dims disagree with header")
        frames.append(px)
    return w, h, fps, frames
