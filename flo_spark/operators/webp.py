"""Native WebP-lossless (VP8L) codec — stdlib + numpy only.

Spec: the public "WebP Lossless Bitstream Specification" (Google,
RFC-style; also libwebp's vp8l_dec.c as the behavioral reference —
cited for semantics only, no code copied).

Scope (mirrors the other native codecs' honesty contract):

- ``decode_webp``: VP8L *image-stream* decode — simple and normal
  (code-length-coded) prefix codes, meta-prefix-free single code
  group, COLOR CACHE, and LZ77 backward references with plain 1-D
  distances.  The spec's 120-entry 2-D short-distance map and the
  subtract-green / predictor / color / color-indexing TRANSFORMS are
  refused loudly by name (the native encoder never emits them; a
  stream using them needs the full libwebp pipeline).
- ``encode_webp_lossless``: spec-legal VP8L writer using literal-only
  coding — per-channel SIMPLE prefix codes when a channel has <= 2
  distinct values, otherwise a flat 8-bit canonical code emitted
  through the general code-length-code machinery (so the decoder's
  normal path is exercised by every round trip).

Bit order: VP8L packs values LSB-first into bytes; canonical prefix
codes are traversed MSB-of-code-first, one stream bit per code bit
(the LSB-first bit I/O and prefix codes of operators/bitio.py).
"""

from __future__ import annotations

from flo_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    PrefixDecoder,
    canonical_codes,
    canonical_counts,
)


class _OneSymbol:
    """A prefix code with a single used symbol, which VP8L codes in
    zero bits."""

    def __init__(self, sym: int):
        self.sym = sym

    def read(self, br: LsbReader) -> int:
        return self.sym


def _prefix_decoder(lengths: dict[int, int]):
    used = {s: ln for s, ln in lengths.items() if ln}
    if len(used) == 1:
        return _OneSymbol(next(iter(used)))
    return PrefixDecoder(*canonical_counts(used))


_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_prefix_code(br: LsbReader, alphabet_size: int):
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8 = br.read(1)
        s0 = br.read(8 if first_8 else 1)
        if num_symbols == 2:
            # spec: bit 0 is the FIRST symbol in stream order, not the
            # numerically smaller one — bypass canonical assignment.
            return PrefixDecoder([2], [s0, br.read(8)])
        return _OneSymbol(s0)  # zero bits per symbol
    # normal: code lengths coded by the code-length code
    num_clc = 4 + br.read(4)
    clc = _prefix_decoder({_CLC_ORDER[i]: br.read(3) for i in range(num_clc)})
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    prev_len = 8
    sym = 0
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        code = clc.read(br)
        if code < 16:
            lengths[sym] = code
            sym += 1
            if code:
                prev_len = code
        elif code == 16:
            for _ in range(3 + br.read(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif code == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return _prefix_decoder(lengths)


def _lz77_extra(prefix: int) -> tuple[int, int]:
    """prefix symbol -> (extra bits, offset) for length/distance."""
    if prefix < 4:
        return 0, prefix + 1
    extra = (prefix - 2) >> 1
    offset = ((2 + (prefix & 1)) << extra) + 1
    return extra, offset


def decode_webp(payload: bytes):
    """Decode a lossless WebP (VP8L) file to an (H, W, 4) uint8 RGBA
    array.  Transform-coded streams raise NotImplementedError."""
    import struct

    import numpy as np

    b = bytes(payload)
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    pos = 12
    vp8l = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        if tag == b"VP8L":
            vp8l = b[pos + 8 : pos + 8 + size]
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "only lossless (VP8L) WebP decodes natively; lossy/"
                "extended streams need a codec library"
            )
        pos += 8 + size + (size % 2)
    if vp8l is None:
        raise ValueError("WebP file has no VP8L chunk")
    if vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = LsbReader(vp8l, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    while br.read(1):
        ttype = br.read(2)
        names = {0: "predictor", 1: "color", 2: "subtract-green",
                 3: "color-indexing"}
        raise NotImplementedError(
            f"VP8L {names[ttype]} transform needs the full transform "
            "pipeline, not implemented natively"
        )
    # color cache
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    if br.read(1):
        raise NotImplementedError(
            "VP8L meta-prefix (multiple code groups) not implemented"
        )
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    g_code = _read_prefix_code(br, green_size)
    r_code = _read_prefix_code(br, 256)
    b_code = _read_prefix_code(br, 256)
    a_code = _read_prefix_code(br, 256)
    d_code = _read_prefix_code(br, 40)
    n = w * h
    px = np.zeros(n, dtype=np.uint32)
    i = 0
    while i < n:
        s = g_code.read(br)
        if s < 256:
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            px[i] = argb
            i += 1
            if cache is not None:
                cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
        elif s < 256 + 24:
            eb, off = _lz77_extra(s - 256)
            length = off + br.read(eb)
            dsym = d_code.read(br)
            eb, off = _lz77_extra(dsym)
            dist_code = off + br.read(eb)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                raise NotImplementedError(
                    "VP8L 2-D short-distance codes (the 120-entry "
                    "neighbor map) are not implemented natively"
                )
            if dist > i:
                raise ValueError("VP8L backref before start")
            for _ in range(length):
                if i >= n:
                    break
                argb = int(px[i - dist])
                px[i] = argb
                i += 1
                if cache is not None:
                    cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
        else:
            if cache is None:
                raise ValueError("cache symbol without color cache")
            px[i] = cache[s - 256 - 24]
            i += 1
    argb = px.reshape(h, w)
    out = np.zeros((h, w, 4), np.uint8)
    out[..., 0] = (argb >> 16) & 0xFF  # R
    out[..., 1] = (argb >> 8) & 0xFF  # G
    out[..., 2] = argb & 0xFF  # B
    out[..., 3] = (argb >> 24) & 0xFF  # A
    return out


def _write_simple_or_flat(bw: LsbWriter, values, alphabet_size: int):
    """Emit a prefix code for the channel and return symbol->(code,len).

    <= 2 distinct values -> SIMPLE code; otherwise a flat 8-bit
    canonical code written through the code-length code (every symbol
    0..255 gets length 8; lengths emitted as one 16-repeat chain)."""
    distinct = sorted(set(int(v) for v in values))
    if len(distinct) <= 2 and max(distinct, default=0) < 256:
        bw.write(1, 1)  # simple
        if len(distinct) <= 1:
            s0 = distinct[0] if distinct else 0
            bw.write(0, 1)  # num_symbols = 1
            bw.write(1, 1)  # 8-bit first symbol
            bw.write(s0, 8)
            return {s0: (0, 0)}
        s0, s1 = distinct
        bw.write(1, 1)  # num_symbols = 2
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    # flat 8-bit code over symbols 0..255 via the code-length code
    bw.write(0, 1)  # normal code
    # code-length alphabet: we need lengths {8: for 256 symbols}.
    # kOrder prefix: emit num_clc covering symbols up to 8.
    # _CLC_ORDER = [17,18,0,1,2,3,4,5,16,6,7,8,...]; symbol 16 is at
    # index 8 and symbol 8 at index 11 -> num_clc = 12.
    bw.write(12 - 4, 4)
    clc_lengths = {16: 1, 8: 1}  # two used CLC symbols, 1 bit each
    for i in range(12):
        sym = _CLC_ORDER[i]
        bw.write(clc_lengths.get(sym, 0), 3)
    clc_codes = canonical_codes(*canonical_counts(clc_lengths))
    if alphabet_size > 256:
        # max_symbol counts code-length-code SYMBOLS READ (libwebp
        # ReadHuffmanCodeLengths), not filled slots: we emit exactly
        # 44 (one '8' plus 43 16-repeats covering symbols 1..255), so
        # the reader must stop there and default the remaining length
        # prefixes (256..alphabet) to 0
        bw.write(1, 1)
        bw.write(2, 3)  # length_nbits = 2 + 2*2 = 6
        bw.write(42, 6)  # max_symbol = 2 + 42 = 44
    else:
        bw.write(0, 1)
    # symbol 8 (code length 8) once, then 16-repeats to reach 256
    code, ln = clc_codes[8]
    bw.write_code(code, ln)
    emitted = 1
    rcode, rln = clc_codes[16]
    while emitted < 256:
        bw.write_code(rcode, rln)
        run = min(6, 256 - emitted)
        bw.write(run - 3, 2)
        emitted += run
    flat = {s: (s, 8) for s in range(256)}
    return flat


def encode_webp_lossless(img) -> bytes:
    """Encode (H, W, 3) RGB or (H, W, 4) RGBA as a real VP8L WebP
    (literal-only: no transforms, no cache, no backrefs)."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    if img.shape[2] == 3:
        rgba = np.concatenate(
            [img, np.full((h, w, 1), 255, np.uint8)], axis=2
        )
        alpha_hint = 0
    else:
        rgba = img
        alpha_hint = 1
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(alpha_hint, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix
    r = rgba[..., 0].ravel()
    g = rgba[..., 1].ravel()
    b = rgba[..., 2].ravel()
    a = rgba[..., 3].ravel()
    g_codes = _write_simple_or_flat(bw, g, 256 + 24)
    r_codes = _write_simple_or_flat(bw, r, 256)
    b_codes = _write_simple_or_flat(bw, b, 256)
    a_codes = _write_simple_or_flat(bw, a, 256)
    # distance code: never used; single-symbol simple code (0 bits)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(1, 1)
    bw.write(0, 8)
    for i in range(w * h):
        c, ln = g_codes[int(g[i])]
        bw.write_code(c, ln)
        c, ln = r_codes[int(r[i])]
        bw.write_code(c, ln)
        c, ln = b_codes[int(b[i])]
        bw.write_code(c, ln)
        c, ln = a_codes[int(a[i])]
        bw.write_code(c, ln)
    vp8l = bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
