"""Huffman code construction and bit-serial symbol reads.

One canonical walk serves both code families: VP8L orders symbols by
(length, symbol id) the DEFLATE way, JPEG by its DHT value list, and
both count codes upward with a left shift at each length increase.
"""

from __future__ import annotations

from collections.abc import Iterable


def limited_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Length-limited Huffman code lengths via boundary package-merge —
    optimal under the max_len constraint, deterministic (ties broken by
    symbol id). Returns {symbol: length} for every symbol in freqs."""
    items = sorted((f, s) for s, f in freqs.items())
    if not items:
        return {}
    if len(items) == 1:
        return {items[0][1]: 1}
    if len(items) > (1 << max_len):
        raise ValueError("alphabet too large for the length limit")
    prev: list[tuple[int, tuple[int, ...]]] = []
    for _level in range(max_len):
        cur = [(f, (s,)) for f, s in items]
        for i in range(0, len(prev) - 1, 2):
            cur.append(
                (prev[i][0] + prev[i + 1][0], prev[i][1] + prev[i + 1][1])
            )
        prev = sorted(cur)
    lengths = {s: 0 for _, s in items}
    for _f, syms in prev[: 2 * (len(items) - 1)]:
        for s in syms:
            lengths[s] += 1
    assert sum(2 ** -l for l in lengths.values()) == 1.0, "kraft violated"
    return lengths


def canonical_walk(ordered: Iterable[tuple[int, int]]) -> list[tuple[int, int, int]]:
    """(symbol, code, length) for (length, symbol) pairs in code order.
    Code bits are MSB-first (reverse before an LSB-first packer)."""
    out = []
    code = 0
    prev_len = 0
    for l, s in ordered:
        code <<= l - prev_len
        prev_len = l
        out.append((s, code, l))
        code += 1
    return out


def length_order(lengths: dict[int, int]) -> list[tuple[int, int]]:
    """(length, symbol) pairs of the used symbols, DEFLATE code order."""
    return sorted((l, s) for s, l in lengths.items() if l > 0)


def canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: (code, length)}, symbols ordered by (length, symbol id)."""
    return {s: (c, l) for s, c, l in canonical_walk(length_order(lengths))}


def jpeg_table(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """A DHT's (bits, vals): symbol count per code length 1..16 and the
    symbols in code order, so jpeg_walk(bits, vals) assigns exactly
    canonical_codes(lengths)."""
    bits = [0] * 16
    for l in lengths.values():
        bits[l - 1] += 1
    return bits, [s for _l, s in length_order(lengths)]


def jpeg_walk(bits: list[int], vals: list[int]) -> list[tuple[int, int, int]]:
    """(symbol, code, length) of a DHT's (bits, vals) table."""
    lens = [l for l, n in enumerate(bits, 1) for _ in range(n)]
    return canonical_walk(zip(lens, vals))


def reverse_bits(value: int, nbits: int) -> int:
    out = 0
    for _ in range(nbits):
        out = (out << 1) | (value & 1)
        value >>= 1
    return out


def decode_table(
    walk: list[tuple[int, int, int]]
) -> tuple[dict[tuple[int, int], int], int]:
    """(len, code)->symbol lookup + max length, for bit-serial canonical
    decoding (code accumulates MSB-first as bits arrive)."""
    table = {(l, c): s for s, c, l in walk}
    return table, max((l for _s, _c, l in walk), default=0)


def read_symbol(br, table: dict[tuple[int, int], int], max_len: int) -> int:
    """One symbol off ``br`` (either bit reader), a bit at a time."""
    if max_len == 0:  # trivial single-symbol code: zero bits per symbol
        if (0, 0) in table:
            return table[(0, 0)]
        raise ValueError("empty huffman code")
    code = 0
    for l in range(1, max_len + 1):
        code = (code << 1) | br.read(1)
        sym = table.get((l, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")
