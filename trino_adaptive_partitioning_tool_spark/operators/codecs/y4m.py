"""YUV4MPEG2: ffmpeg's uncompressed video stream — a plain-text stream
header, then FRAME-delimited raw 4:2:0 planes."""

from __future__ import annotations


def parse(payload: bytes) -> tuple[int, int, float, list[bytes]]:
    """(width, height, fps, [raw 4:2:0 frame bytes...])."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", "strict")
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    params = dict((p[0], p[1:]) for p in header.split(" ")[1:] if p)
    w, h = int(params["W"]), int(params["H"])
    num, den = (int(x) for x in params.get("F", "25:1").split(":"))
    frame_bytes = w * h * 3 // 2  # 4:2:0
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("malformed Y4M frame marker")
        frames.append(payload[fnl + 1 : fnl + 1 + frame_bytes])
        pos = fnl + 1 + frame_bytes
    return w, h, num / den, frames


def sample(payload: bytes, every_ms: int) -> list[tuple[int, int, bytes]]:
    """[(sample_idx, frame_ms, frame_bytes)]: the first frame at or past
    each every_ms step of the stream's own frame clock."""
    _w, _h, fps, frames = parse(payload)
    out: list[tuple[int, int, bytes]] = []
    next_ms = 0.0
    for idx, data in enumerate(frames):
        ms = idx * 1000.0 / fps
        if ms >= next_ms:
            out.append((len(out), int(ms), data))
            next_ms += every_ms
    return out


def encode(frames: list[bytes], w: int, h: int) -> bytes:
    """A progressive 4:2:0 stream of the given raw frames at 10 fps."""
    header = f"YUV4MPEG2 W{w} H{h} F10:1 Ip A1:1 C420\n".encode()
    return header + b"".join(b"FRAME\n" + f for f in frames)
