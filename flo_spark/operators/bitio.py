"""Bit-level I/O shared by the native media codecs.

Two bit orders cover every codec in this package:

- MSB-first (a byte's top bit is the first stream bit): FLAC, JPEG
  entropy-coded data and TIFF LZW — ``MsbReader`` / ``MsbWriter``;
- LSB-first: WebP lossless (VP8L) and GIF LZW — ``LsbReader`` /
  ``LsbWriter``.

Prefix (Huffman) codes are canonical in every format here (ITU-T T.81
Annex C, RFC 1951 section 3.2.2): a code is given by how many codes
each length has plus the symbols in code order — JPEG's BITS/HUFFVAL
form, which ``canonical_counts`` derives from per-symbol lengths.
``canonical_codes`` assigns the codes and ``PrefixDecoder`` reads them
from either reader.  A code's first stream bit is its MOST significant
bit in both orders, so the LSB-first reader and writer reverse code
bits (``peek_code`` / ``write_code``).

``lzw_encode`` / ``lzw_decode`` are the variable-width (up to 12-bit)
LZW coders with CLEAR / END control codes that GIF and TIFF share; the
bit order comes from the reader or writer the caller passes.
"""

from __future__ import annotations

from bisect import bisect_right

__all__ = [
    "MsbReader",
    "MsbWriter",
    "LsbReader",
    "LsbWriter",
    "canonical_counts",
    "canonical_codes",
    "PrefixDecoder",
    "lzw_encode",
    "lzw_decode",
]

#: 8-bit reversal table; prefix codes are at most 16 bits long
_REV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def _reverse(v: int, n: int) -> int:
    """The low ``n`` (<= 16) bits of ``v`` in reverse order."""
    return ((_REV8[v & 0xFF] << 8) | _REV8[(v >> 8) & 0xFF]) >> (16 - n)


class _Reader:
    """Bits are fetched up to eight bytes at a time into ``acc``, which
    holds ``nbits`` loaded but unread bits; ``byte`` is the next byte
    of ``data`` to load."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.acc = 0
        self.nbits = 0

    def left(self) -> int:
        """Bits not yet read."""
        return 8 * (len(self.data) - self.byte) + self.nbits

    def _load(self, n: int) -> bool:
        """Load bytes until ``n`` bits are available; False at the end
        of the data."""
        while self.nbits < n:
            chunk = self.data[self.byte : self.byte + 8]
            if not chunk:
                return False
            self._push(chunk)
            self.nbits += 8 * len(chunk)
            self.byte += len(chunk)
        return True


class MsbReader(_Reader):
    def _push(self, chunk: bytes) -> None:
        self.acc = (self.acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")

    def read(self, n: int) -> int:
        if self.nbits < n and not self._load(n):
            raise ValueError("truncated bit stream")
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        """An ``n``-bit two's-complement value."""
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        """The number of 0 bits before the next 1 bit (which is
        consumed too)."""
        q = 0
        while True:
            if not self.nbits and not self._load(1):
                raise ValueError("truncated bit stream")
            if self.acc:
                zeros = self.nbits - self.acc.bit_length()
                self.nbits -= zeros + 1
                self.acc &= (1 << self.nbits) - 1
                return q + zeros
            q += self.nbits
            self.nbits = 0

    def peek_code(self, n: int) -> int:
        """The next ``n`` bits, first stream bit most significant,
        zero-filled past the end of the data; nothing is consumed."""
        self._load(n)
        if self.nbits >= n:
            return self.acc >> (self.nbits - n)
        return self.acc << (n - self.nbits)

    def tell(self) -> int:
        """Bit offset of the next unread bit in ``data``."""
        return 8 * self.byte - self.nbits

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.nbits -= self.nbits % 8
        self.acc &= (1 << self.nbits) - 1


class LsbReader(_Reader):
    def _push(self, chunk: bytes) -> None:
        self.acc |= int.from_bytes(chunk, "little") << self.nbits

    def read(self, n: int) -> int:
        if self.nbits < n and not self._load(n):
            raise ValueError("truncated bit stream")
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def peek_code(self, n: int) -> int:
        """The next ``n`` (<= 16) bits, first stream bit most
        significant, zero-filled past the end of the data; nothing is
        consumed."""
        self._load(n)
        return _reverse(self.acc & ((1 << n) - 1), n)


class MsbWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0  # pending bits in acc, always < 8 between calls

    def write(self, value: int, n: int) -> None:
        """Append the low ``n`` bits of ``value``."""
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        if self.nbits >= 8:
            k = self.nbits >> 3
            self.nbits &= 7
            self.buf += (self.acc >> self.nbits).to_bytes(k, "big")
            self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        """``q`` 0 bits then a 1 bit (the inverse of ``read_unary``)."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def getvalue(self) -> bytes:
        """The bytes written so far, a partial last byte zero-filled."""
        if not self.nbits:
            return bytes(self.buf)
        return bytes(self.buf) + bytes([self.acc << (8 - self.nbits)])


class LsbWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """Append the low ``n`` bits of ``value``."""
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        if self.nbits >= 8:
            k = self.nbits >> 3
            self.buf += (self.acc & ((1 << (8 * k)) - 1)).to_bytes(k, "little")
            self.acc >>= 8 * k
            self.nbits &= 7

    def write_code(self, code: int, length: int) -> None:
        """Append a prefix code, its most significant bit first."""
        self.write(_reverse(code, length), length)

    def getvalue(self) -> bytes:
        """The bytes written so far, a partial last byte zero-filled."""
        if not self.nbits:
            return bytes(self.buf)
        return bytes(self.buf) + bytes([self.acc])


def canonical_counts(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """``{symbol: code length}`` (length 0 = unused) -> (number of
    codes of each length 1..max, symbols in canonical code order:
    by length, then by symbol)."""
    used = sorted((ln, sym) for sym, ln in lengths.items() if ln > 0)
    counts = [0] * (used[-1][0] if used else 0)
    for ln, _ in used:
        counts[ln - 1] += 1
    return counts, [sym for _, sym in used]


def canonical_codes(counts, symbols) -> dict[int, tuple[int, int]]:
    """Canonical code assignment: ``{symbol: (code, length)}``."""
    out, code, idx = {}, 0, 0
    for length, n in enumerate(counts, 1):
        for sym in symbols[idx : idx + n]:
            out[sym] = (code, length)
            code += 1
        idx += n
        code <<= 1
    return out


class PrefixDecoder:
    """Reads canonical prefix codes from an ``MsbReader`` or
    ``LsbReader``: one ``peek_code`` of the longest code length, then
    a binary search over the left-justified upper bound of each
    length's codes (codes of a shorter length sort below every longer
    code in canonical order)."""

    def __init__(self, counts, symbols):
        while counts and not counts[-1]:
            counts = counts[:-1]
        if len(counts) > 16:
            raise ValueError("prefix code longer than 16 bits")
        self.max_len = len(counts)
        self.symbols = list(symbols)
        self.limits: list[int] = []
        self.lengths: list[tuple[int, int]] = []  # (length, index - code)
        code = idx = 0
        for length, n in enumerate(counts, 1):
            if n:
                self.limits.append((code + n) << (self.max_len - length))
                self.lengths.append((length, idx - code))
            code = (code + n) << 1
            idx += n

    def read(self, br) -> int:
        v = br.peek_code(self.max_len)
        i = bisect_right(self.limits, v)
        if i == len(self.limits):
            raise ValueError("invalid prefix code")
        length, offset = self.lengths[i]
        br.read(length)
        return self.symbols[(v >> (self.max_len - length)) + offset]


def lzw_encode(bw, symbols, min_code_size: int) -> None:
    """Greedy longest-match LZW of ``symbols`` (each below
    ``2**min_code_size``) into writer ``bw``: a leading CLEAR, codes
    widening from ``min_code_size + 1`` bits as the table grows, CLEAR
    and a fresh table when a 12-bit table is full, then END."""
    clear = 1 << min_code_size
    end = clear + 1
    size = min_code_size + 1
    bw.write(clear, size)
    table: dict[tuple[int, int], int] = {}  # (prefix code, symbol) -> code
    next_code = end + 1
    cur = None  # code of the longest match so far
    for s in symbols:
        if cur is None:
            cur = s
            continue
        ext = table.get((cur, s))
        if ext is not None:
            cur = ext
            continue
        bw.write(cur, size)
        table[(cur, s)] = next_code
        next_code += 1
        if next_code - 1 == 1 << size:
            if size < 12:
                size += 1
            else:
                bw.write(clear, size)
                table.clear()
                next_code, size = end + 1, min_code_size + 1
        cur = s
    if cur is not None:
        bw.write(cur, size)
    bw.write(end, size)


def lzw_decode(br, min_code_size: int, early_change: int) -> bytes:
    """Decode LZW codes from reader ``br`` until END or the end of the
    data.  The code width grows when the table reaches
    ``2**size - early_change`` entries and stops at 12 bits."""
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        # the two control codes hold placeholder entries
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    size = min_code_size + 1
    prev = None
    out = bytearray()
    while True:
        try:
            code = br.read(size)
        except ValueError:  # data ended without END
            break
        if code == clear:
            table = fresh()
            size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        prev = entry
        if len(table) == (1 << size) - early_change and size < 12:
            size += 1
    return bytes(out)
