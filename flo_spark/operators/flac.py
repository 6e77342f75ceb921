"""Native FLAC codec — lossless audio without a codec library.

FLAC (RFC 9639) is the one audio container the engine's multimodal
layer previously listed as requiring soundfile.  Unlike JPEG it is
LOSSLESS, so a native implementation can be hash-verified end to end:
encode known 16-bit PCM, decode it back, and every integer must
survive exactly.

Scope (documented subset, mirroring the TIFF/GIF/PNG decoders'
"decode what the container actually needs, refuse loudly otherwise"
contract):

- encoder: 16-bit PCM, 1-2 independent channels, fixed block size
  (4096 default, short last block), per-subframe predictor chosen
  from CONSTANT / VERBATIM / FIXED order 0-2 by residual cost, Rice
  residual coding with per-partition parameter search, STREAMINFO
  with the spec's MD5 of the unencoded samples;
- decoder: every blocksize/sample-rate/sample-size header code,
  CONSTANT / VERBATIM / FIXED 0-4 / LPC subframes, both Rice methods
  (4- and 5-bit parameters) including the escape-to-raw code,
  partition orders, wasted bits, and the stereo decorrelation modes
  (left/side, right/side, mid/side), with CRC-8 (header), CRC-16
  (frame) and STREAMINFO-MD5 verification — a corrupt stream raises
  instead of mis-decoding.

Everything is stdlib + numpy; the encoder and decoder share the CRC
tables and the MSB-first bit I/O of operators/bitio.py, so the
round-trip entry and the unit tests exercise one implementation.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from flo_spark.operators.bitio import MsbReader, MsbWriter

__all__ = ["encode_flac", "decode_flac", "decode_flac_full"]

_SYNC = 0x3FFE  # 14-bit frame sync code


def _crc_table(poly: int, width: int) -> list[int]:
    mask, top = (1 << width) - 1, 1 << (width - 1)
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
        table.append(crc & mask)
    return table


_CRC8 = _crc_table(0x07, 8)
_CRC16 = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC16[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)
    return crc


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index / sample number).
    An nbytes-long sequence carries (7 - nbytes) + 6*(nbytes - 1)
    = 5*nbytes + 1 payload bits."""
    if n < 0x80:
        return bytes([n])
    for nbytes in range(2, 8):
        if n < 1 << (5 * nbytes + 1):
            break
    else:
        raise ValueError("FLAC coded number out of range")
    first = ((0xFF << (8 - nbytes)) & 0xFF) | (n >> (6 * (nbytes - 1)))
    out = [first]
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8_number(br: MsbReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    probe = first
    while probe & 0x80:
        nbytes += 1
        probe = (probe << 1) & 0xFF
    if nbytes < 2 or nbytes > 7:
        raise ValueError("invalid FLAC coded number")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("invalid FLAC coded-number continuation")
        n = (n << 6) | (b & 0x3F)
    return n


def _zigzag(res: np.ndarray) -> np.ndarray:
    return (res << 1) ^ (res >> 63)


def _rice_cost(u: np.ndarray, k: int) -> int:
    return int(np.sum(u >> k)) + len(u) * (k + 1)


def _best_rice_param(u: np.ndarray) -> int:
    if len(u) == 0:
        return 0
    best_k, best_cost = 0, _rice_cost(u, 0)
    for k in range(1, 15):
        cost = _rice_cost(u, k)
        if cost < best_cost:
            best_k, best_cost = k, cost
    return best_k


def _write_rice(bw: MsbWriter, res: np.ndarray, partition_order: int,
                blocksize: int, pred_order: int) -> None:
    """Residual coding method 0 (4-bit Rice parameters)."""
    bw.write(0, 2)  # method: RICE
    bw.write(partition_order, 4)
    n_part = 1 << partition_order
    u = _zigzag(res.astype(np.int64))
    pos = 0
    for p in range(n_part):
        n = blocksize >> partition_order
        if p == 0:
            n -= pred_order
        part = u[pos : pos + n]
        pos += n
        k = _best_rice_param(part)
        bw.write(k, 4)
        for v in part:
            v = int(v)
            bw.write_unary(v >> k)
            bw.write(v, k)


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    res = x.astype(np.int64)
    for _ in range(order):
        res = np.diff(res)
    return res


def encode_flac(
    samples: np.ndarray,
    rate: int = 8000,
    block_size: int = 4096,
    max_partition_order: int = 0,
) -> bytes:
    """Encode (n, channels) int16 PCM to a FLAC stream (independent
    channels, fixed predictors).  ``max_partition_order`` > 0 opts
    into Rice partitioning when the block size divides evenly."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, n_ch = samples.shape
    if not 1 <= n_ch <= 2:
        raise NotImplementedError("encoder supports 1-2 channels")
    if samples.dtype != np.int16:
        raise NotImplementedError("encoder supports 16-bit PCM only")
    if not 1 <= rate <= 655350:
        raise ValueError("invalid sample rate")

    md5 = hashlib.md5(
        samples.astype("<i2").tobytes()  # interleaved little-endian
    ).digest()
    frames = bytearray()
    for f_idx, start in enumerate(range(0, n, block_size)):
        block = samples[start : start + block_size]
        bs = len(block)
        bw = MsbWriter()
        bw.write(_SYNC, 14)
        bw.write(0, 1)  # mandatory zero
        bw.write(0, 1)  # fixed-blocksize stream
        bw.write(0b0111, 4)  # blocksize: 16-bit at end of header
        bw.write(0b0000, 4)  # sample rate: from STREAMINFO
        bw.write(n_ch - 1, 4)  # independent channels
        bw.write(0b100, 3)  # 16 bits per sample
        bw.write(0, 1)  # reserved
        for b in _utf8_number(f_idx):
            bw.write(b, 8)
        bw.write(bs - 1, 16)
        # header is byte-aligned here by construction (14+1+1+4+4+4+3+1
        # = 32 bits, coded number and blocksize are whole bytes)
        assert bw.nbits == 0
        bw.write(_crc8(bytes(bw.buf)), 8)
        for ch in range(n_ch):
            x = block[:, ch].astype(np.int64)
            _encode_subframe(bw, x, bs, max_partition_order)
        body = bw.getvalue()
        frames += body + struct.pack(">H", _crc16(body))

    si = MsbWriter()
    # spec: the min-blocksize field ignores a short LAST block, so a
    # fixed-blocksize stream reports the nominal size in both fields
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(rate, 20)
    si.write(n_ch - 1, 3)
    si.write(15, 5)  # bits per sample - 1
    si.write(n, 36)
    streaminfo = si.getvalue() + md5
    header = b"fLaC" + bytes([0x80, 0, 0, len(streaminfo)]) + streaminfo
    return header + bytes(frames)


def _encode_subframe(bw: MsbWriter, x: np.ndarray, bs: int,
                     max_partition_order: int) -> None:
    bw.write(0, 1)  # zero padding bit
    if bs and np.all(x == x[0]):
        bw.write(0b000000, 6)
        bw.write(0, 1)  # no wasted bits
        bw.write(int(x[0]) & 0xFFFF, 16)
        return
    # pick the fixed order 0-2 with the cheapest zigzag residual
    best_order, best_res, best_cost = 0, x, None
    for order in range(0, 3):
        if order > bs - 1:
            break
        res = _fixed_residual(x, order)
        cost = int(np.sum(np.abs(res)))
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    order, res = best_order, best_res
    # partition only when every partition is non-empty and bs divides
    porder = 0
    if max_partition_order > 0:
        for cand in range(max_partition_order, 0, -1):
            if bs % (1 << cand) == 0 and (bs >> cand) > order:
                porder = cand
                break
    u = _zigzag(res.astype(np.int64))
    rice_bits = len(u) * 5 + int(np.sum(u >> _best_rice_param(u)))
    if rice_bits + order * 16 >= bs * 16:
        bw.write(0b000001, 6)  # verbatim
        bw.write(0, 1)
        for v in x:
            bw.write(int(v) & 0xFFFF, 16)
        return
    bw.write(0b001000 | order, 6)
    bw.write(0, 1)  # no wasted bits
    for v in x[:order]:
        bw.write(int(v) & 0xFFFF, 16)
    _write_rice(bw, res, porder, bs, order)


# -------------------------------------------------------------------------
# decoder
# -------------------------------------------------------------------------

_BLOCKSIZE_CODES = {1: 192, **{i: 576 << (i - 2) for i in range(2, 6)},
                    **{i: 256 << (i - 8) for i in range(8, 16)}}
_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac(buf: bytes):
    """Decode a FLAC stream to (samples int32 ndarray (n, ch), rate) —
    the 2-tuple shape the other audio decoders share."""
    samples, rate, _bps = decode_flac_full(buf)
    return samples, rate


def decode_flac_full(buf: bytes):
    """Decode a FLAC stream to (samples int32 ndarray (n, ch), rate,
    bits_per_sample).  Verifies frame CRC-8/CRC-16 and the STREAMINFO
    MD5 when present (byte-aligned sample widths)."""
    if buf[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(buf):
            raise ValueError("truncated FLAC metadata")
        is_last = buf[pos] & 0x80
        btype = buf[pos] & 0x7F
        (blen,) = struct.unpack(">I", b"\0" + buf[pos + 1 : pos + 4])
        body = buf[pos + 4 : pos + 4 + blen]
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if is_last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("FLAC missing STREAMINFO")
    si = MsbReader(streaminfo)
    si.read(16)  # min blocksize
    si.read(16)  # max blocksize
    si.read(24)
    si.read(24)
    rate = si.read(20)
    n_ch = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    md5_expect = streaminfo[18:34]

    chans = [[] for _ in range(n_ch)]
    got = 0
    while got < total:
        br = MsbReader(buf, pos)
        frame_start = pos
        if br.read(14) != _SYNC:
            raise ValueError("lost FLAC frame sync")
        br.read(1)
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        sz_code = br.read(3)
        br.read(1)
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC blocksize code")
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            pass
        elif sr_code in _RATE_CODES:
            pass
        elif sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        else:
            raise ValueError("invalid FLAC sample-rate code")
        frame_bps = bps if sz_code == 0 else _SIZE_CODES.get(sz_code)
        if frame_bps is None:
            raise ValueError("reserved FLAC sample-size code")
        header_len = (br.tell() >> 3) - frame_start
        if _crc8(buf[frame_start : frame_start + header_len]) != br.read(8):
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code < 8:
            if ch_code + 1 != n_ch:
                raise ValueError("frame/stream channel count mismatch")
            sub = [
                _decode_subframe(br, bs, frame_bps) for _ in range(n_ch)
            ]
            outs = sub
        elif ch_code in (8, 9, 10):
            if n_ch != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            extra0 = 1 if ch_code == 9 else 0
            extra1 = 1 if ch_code in (8, 10) else 0
            c0 = _decode_subframe(br, bs, frame_bps + extra0)
            c1 = _decode_subframe(br, bs, frame_bps + extra1)
            if ch_code == 8:  # left/side
                left, side = c0, c1
                outs = [left, left - side]
            elif ch_code == 9:  # side/right
                side, right = c0, c1
                outs = [right + side, right]
            else:  # mid/side
                mid, side = c0, c1
                left = (2 * mid + (side & 1) + side) >> 1
                outs = [left, left - side]
        else:
            raise ValueError("reserved FLAC channel assignment")
        br.align()
        end = br.tell() >> 3
        if end + 2 > len(buf):
            raise ValueError("truncated FLAC frame footer")
        crc_footer = struct.unpack(">H", buf[end : end + 2])[0]
        if _crc16(buf[frame_start:end]) != crc_footer:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = end + 2
        take = min(bs, total - got)
        for ch in range(n_ch):
            chans[ch].append(outs[ch][:take])
        got += take

    out = np.stack(
        [np.concatenate(c) if c else np.empty(0, np.int64) for c in chans],
        axis=1,
    ).astype(np.int64)
    if md5_expect != b"\0" * 16 and bps % 8 == 0:
        # spec MD5: interleaved little-endian samples at bps bits;
        # byte-aligned widths verify here (8/16/24/32 — 24-bit packs
        # the low 3 bytes of each int32), sub-byte widths (12/20) are
        # not producible by this decoder's _SIZE_CODES anyway
        if bps == 24:
            le32 = np.ascontiguousarray(out.astype("<i4"))
            raw = le32.view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
        else:
            dt = {8: "<i1", 16: "<i2", 32: "<i4"}[bps]
            raw = out.astype(dt).tobytes()
        if hashlib.md5(raw).digest() != md5_expect:
            raise ValueError("FLAC MD5 signature mismatch")
    return out.astype(np.int32), rate, bps


def _decode_subframe(br: MsbReader, bs: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("invalid FLAC subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):  # wasted-bits flag
        wasted = br.read_unary() + 1
        bps -= wasted
    if stype == 0:  # constant
        v = br.read_signed(bps)
        x = np.full(bs, v, dtype=np.int64)
    elif stype == 1:  # verbatim
        x = np.array([br.read_signed(bps) for _ in range(bs)], dtype=np.int64)
    elif 8 <= stype <= 12:  # fixed, order = stype - 8
        order = stype - 8
        warm = [br.read_signed(bps) for _ in range(order)]
        res = _read_residual(br, bs, order)
        x = _undiff(np.array(warm, dtype=np.int64), res, order, bs)
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 0x1F) + 1
        warm = [br.read_signed(bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residual(br, bs, order)
        x = np.empty(bs, dtype=np.int64)
        x[:order] = warm
        for i in range(order, bs):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * int(x[i - 1 - j])
            x[i] = (pred >> shift) + int(res[i - order])
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    return x << wasted if wasted else x


def _undiff(warm: np.ndarray, res: np.ndarray, order: int, bs: int) -> np.ndarray:
    """Invert the order-th finite difference: integrate ``res`` back up
    one level at a time, seeding each level with the corresponding
    finite difference of the warmup samples."""
    if order == 0:
        return res[:bs]
    cur = res.astype(np.int64)
    for k in range(order - 1, -1, -1):
        init = np.diff(warm, n=k)[0] if k else warm[0]
        cur = np.concatenate([[init], cur]).cumsum()
    return cur[:bs]


def _read_residual(br: MsbReader, bs: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    n_part = 1 << porder
    if bs % n_part:
        raise ValueError("FLAC partition order does not divide block size")
    out = []
    for p in range(n_part):
        n = bs >> porder
        if p == 0:
            n -= order
            if n < 0:
                raise ValueError("predictor order exceeds first partition")
        k = br.read(pbits)
        if k == escape:
            nbits = br.read(5)
            vals = [br.read_signed(nbits) if nbits else 0 for _ in range(n)]
            out.extend(vals)
        else:
            for _ in range(n):
                q = br.read_unary()
                u = (q << k) | br.read(k)
                out.append((u >> 1) ^ -(u & 1))
    return np.array(out, dtype=np.int64)
