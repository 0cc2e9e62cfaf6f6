"""Bit packers and readers shared by the codecs.

MSB-first (FLAC, JPEG) and LSB-first (VP8L, GIF LZW). JPEG's marker
byte-stuffing is a mode of the MSB pair: the stuffed writer emits a 0x00
after every 0xFF data byte and pads to a byte boundary with 1s; the
stuffed reader drops those 0x00 bytes and ends its data at the first
marker. Every out-of-data read raises ValueError, so a truncated payload
fails loudly.
"""

from __future__ import annotations


class MsbBitWriter:
    """MSB-first bit packer: the most significant bit of each value lands
    in the most significant free bit of the output byte stream."""

    def __init__(self, stuffed: bool = False) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0
        self._stuffed = stuffed

    def write(self, value: int, nbits: int) -> None:
        if nbits <= 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self._out.append(byte)
            if byte == 0xFF and self._stuffed:
                self._out.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits followed by a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        """Pad to a byte boundary: with 0s, or with 1s when stuffed."""
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1 if self._stuffed else 0, pad)

    def marker(self, code: int) -> None:
        """Align, then emit the two-byte marker 0xFF ``code`` unstuffed."""
        self.align()
        self._out += bytes((0xFF, code))

    def getvalue(self) -> bytes:
        if self._nbits:
            raise ValueError("bit writer not byte-aligned")
        return bytes(self._out)


def marker_offset(data: bytes, pos: int) -> int:
    """Offset of the first JPEG marker at or after ``pos``: a 0xFF not
    followed by a stuffed 0x00 (a lone trailing 0xFF counts); len(data)
    when there is none."""
    while True:
        i = data.find(b"\xff", pos)
        if i < 0:
            return len(data)
        if i + 1 >= len(data) or data[i + 1] != 0x00:
            return i
        pos = i + 2


class MsbBitReader:
    """MSB-first bit reader over a bytes buffer. ``stuffed`` reads one
    JPEG entropy-coded segment starting at ``pos``: ``end`` is the offset
    of the marker that closes it, and reading past it raises."""

    def __init__(self, data: bytes, pos: int = 0, stuffed: bool = False) -> None:
        if stuffed:
            self.end = marker_offset(data, pos)
            data = data[pos : self.end].replace(b"\xff\x00", b"\xff")
            pos = 0
        self._data = data
        self._byte = pos
        self._bit = 0

    def read(self, nbits: int) -> int:
        v = 0
        while nbits > 0:
            if self._byte >= len(self._data):
                raise ValueError("truncated bitstream")
            avail = 8 - self._bit
            take = avail if avail < nbits else nbits
            cur = self._data[self._byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self._bit += take
            nbits -= take
            if self._bit == 8:
                self._bit = 0
                self._byte += 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if nbits and v >> (nbits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway unary code in bitstream")
        return q

    def align(self) -> None:
        if self._bit:
            self._bit = 0
            self._byte += 1

    @property
    def byte_pos(self) -> int:
        return self._byte

    @property
    def aligned(self) -> bool:
        return self._bit == 0


class LsbBitWriter:
    """LSB-first bit packer: values fill each output byte from its least
    significant bit upward."""

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc |= (value & ((1 << nbits) - 1)) << self._n
        self._n += nbits
        while self._n >= 8:
            self._out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def getvalue(self) -> bytes:
        out = bytes(self._out)
        if self._n:
            out += bytes([self._acc & 0xFF])
        return out


class LsbBitReader:
    """LSB-first bit reader."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self._pos >= len(self._data):
                raise ValueError("truncated bitstream")
            self._acc |= self._data[self._pos] << self._n
            self._pos += 1
            self._n += 8
        v = self._acc & ((1 << nbits) - 1)
        self._acc >>= nbits
        self._n -= nbits
        return v
