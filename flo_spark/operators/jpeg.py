"""Native baseline JPEG codec — no codec library.

The last multimodal format the engine listed as PIL-gated.  Baseline
sequential DCT JPEG (ITU-T T.81): marker segments, 8-bit quantization
tables, canonical Huffman entropy coding with byte stuffing and
restart markers, level shift + 8x8 DCT, zigzag run-length AC coding.

Scope (the same "decode what the container needs, refuse loudly"
contract as the other native decoders):

- encoder: grayscale and RGB->YCbCr color, 4:4:4 or 2x2-box 4:2:0
  subsampling, Annex K quantization tables scaled by the libjpeg
  quality formula, Annex K standard Huffman tables, optional restart
  intervals;
- decoder: baseline SOF0 (grayscale / 3-component with any h,v
  sampling factors up to 2), multiple DQT/DHT segments, DRI + RST0-7
  resynchronization, byte-stuffing removal, nearest-neighbor chroma
  upsampling, clamped integer reconstruction.  Progressive (SOF2),
  arithmetic coding, and 12-bit precision raise NotImplementedError.

JPEG is lossy, so unlike FLAC the generic round trip is approximate —
pytest pins |decoded - original| bounds on smooth images and exact
coefficient recovery on hand-built streams.  The hash-exact catalog
contract uses the one input class baseline JPEG preserves EXACTLY:
constant 8x8 blocks whose DC (8 * (v - 128)) is a multiple of the
quality-50 luminance Q(0,0) = 16 — every pixel survives encode->
decode bit-for-bit, SQL-computable by the oracle.
"""

from __future__ import annotations

import struct

import numpy as np

from flo_spark.operators.bitio import (
    MsbReader,
    MsbWriter,
    PrefixDecoder,
    canonical_codes,
)

__all__ = ["encode_jpeg_baseline", "decode_jpeg"]

#: zigzag scan order: index = zigzag position, value = row*8 + col
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: Annex K Table K.1 / K.2 base quantization tables (raster order)
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: Annex K standard Huffman tables: (BITS counts per length 1..16, VALS)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _dct_matrix() -> np.ndarray:
    """8-point DCT-II basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16);
    forward 2D DCT = A @ block @ A.T, inverse = A.T @ coef @ A."""
    a = np.zeros((8, 8), dtype=np.float64)
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


_DCT_A = _dct_matrix()


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality scaling: 50 keeps the Annex K table as-is."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _entropy_bytes(bw: MsbWriter) -> bytes:
    """Close an entropy-coded segment: pad to a byte boundary with
    1-bits and stuff 0x00 after every 0xFF byte (T.81 F.1.2.3)."""
    bw.write(0x7F, -bw.nbits % 8)
    return bw.getvalue().replace(b"\xff", b"\xff\x00")


def _entropy_segment(buf: bytes, pos: int) -> tuple[bytes, int]:
    """The entropy-coded bytes from ``pos`` up to the next marker with
    the stuffing removed, and the marker's offset (``len(buf)`` when
    no marker follows)."""
    end = buf.find(b"\xff", pos)
    while end >= 0 and buf[end + 1 : end + 2] == b"\x00":
        end = buf.find(b"\xff", end + 2)
    if end < 0:
        end = len(buf)
    return buf[pos:end].replace(b"\xff\x00", b"\xff"), end


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map s received bits to the signed coefficient."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, raw bits) for a signed coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


# -------------------------------------------------------------------------
# encoder
# -------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _encode_block(bw, block, qtab, dc_codes, ac_codes, pred):
    coef = _DCT_A @ (block.astype(np.float64) - 128.0) @ _DCT_A.T
    q = np.round(coef.reshape(-1)[_ZIGZAG] / qtab[_ZIGZAG]).astype(np.int64)
    diff = int(q[0]) - pred
    s, bits = _magnitude(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(bits, s)
    run = 0
    last_nz = int(np.max(np.nonzero(q)[0])) if np.any(q[1:]) else 0
    for k in range(1, 64):
        v = int(q[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, bits = _magnitude(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(bits, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return int(q[0])


def encode_jpeg_baseline(
    arr: np.ndarray,
    quality: int = 50,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W[, 1|3]) uint8 to baseline JPEG.  ``subsample``
    selects 4:2:0 (2x2 box-mean chroma); grayscale ignores it."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise NotImplementedError("1- or 3-channel images only")
    qlum = _quality_scale(_Q_LUM, quality)
    qchrom = _quality_scale(_Q_CHROM, quality)

    if nc == 1:
        planes = [arr[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        ycc = _rgb_to_ycbcr(arr)
        planes = [ycc[:, :, i] for i in range(3)]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
        qsel = [0, 1, 1]
        if subsample:
            for i in (1, 2):
                p = planes[i]
                ph, pw = p.shape
                p = np.pad(p, ((0, ph % 2), (0, pw % 2)), mode="edge")
                planes[i] = (
                    p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                    .mean(axis=(1, 3))
                )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    # pad every plane to its own MCU-aligned size by edge replication
    padded = []
    for (sh, sv), p in zip(samp, planes):
        tw, th = mcus_x * 8 * sh, mcus_y * 8 * sv
        padded.append(
            np.pad(
                p,
                ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                mode="edge",
            )
        )

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tid, q in ((0, qlum),) + (((1, qchrom),) if nc == 3 else ()):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(q[z]) for z in _ZIGZAG)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for i in range(nc):
        out += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], qsel[i]])
    huffs = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if nc == 3:
        huffs += [(0x01, _DC_CHROM), (0x11, _AC_CHROM)]
    for tclass_id, (bits, vals) in huffs:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tclass_id)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for i in range(nc):
        dcsel = 0 if i == 0 else 1 if nc == 3 else 0
        out += bytes([i + 1, (dcsel << 4) | dcsel])
    out += bytes([0, 63, 0])

    dc_lum = canonical_codes(*_DC_LUM)
    ac_lum = canonical_codes(*_AC_LUM)
    dc_chrom = canonical_codes(*_DC_CHROM)
    ac_chrom = canonical_codes(*_AC_CHROM)
    comp_tabs = []
    for i in range(nc):
        if i == 0:
            comp_tabs.append((qlum, dc_lum, ac_lum))
        else:
            comp_tabs.append((qchrom, dc_chrom, ac_chrom))

    bw = MsbWriter()
    preds = [0] * nc
    rst = 0
    n_mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                out += _entropy_bytes(bw) + bytes([0xFF, 0xD0 + rst])
                bw = MsbWriter()
                rst = (rst + 1) & 7
                preds = [0] * nc
            for i in range(nc):
                sh, sv = samp[i]
                qtab, dcc, acc_ = comp_tabs[i]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = padded[i][y0 : y0 + 8, x0 : x0 + 8]
                        preds[i] = _encode_block(
                            bw, block, qtab, dcc, acc_, preds[i]
                        )
            n_mcu += 1
    out += _entropy_bytes(bw)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -------------------------------------------------------------------------
# decoder
# -------------------------------------------------------------------------


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Decode baseline JPEG to (H, W, C) uint8 (C = 1 or 3, RGB)."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, PrefixDecoder] = {}
    ac_tabs: dict[int, PrefixDecoder] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before SOS data
            break
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        body = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT: one or more tables
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                raster = np.zeros(64, dtype=np.int64)
                vals = body[bp + 1 : bp + 65]
                if len(vals) < 64:
                    raise ValueError("truncated JPEG DQT segment")
                for z, rq in enumerate(_ZIGZAG):
                    raster[rq] = vals[z]
                qtabs[tq] = raster
                bp += 65
        elif marker == 0xC4:  # DHT: one or more tables
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 0x0F
                bits = list(body[bp + 1 : bp + 17])
                nvals = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + nvals])
                if len(bits) < 16 or len(vals) < nvals:
                    raise ValueError("truncated JPEG DHT segment")
                table = PrefixDecoder(bits, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = table
                bp += 17 + nvals
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext sequential
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X})"
            )
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: scan header then entropy data
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            if ns != len(frame["comps"]):
                # per-component (non-interleaved) scans need multi-scan
                # assembly, which this decoder does not do
                raise NotImplementedError(
                    "multi-scan (non-interleaved) baseline JPEG"
                )
            scan_sel = {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i : 3 + 2 * i]
                scan_sel[cs] = (tt >> 4, tt & 0x0F)
            return _decode_scan(
                buf, pos + seglen, frame, scan_sel, qtabs, dc_tabs,
                ac_tabs, restart_interval,
            )
        pos += seglen
    raise ValueError("JPEG contains no scan")


def _decode_scan(buf, pos, frame, scan_sel, qtabs, dc_tabs, ac_tabs,
                 restart_interval):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    if len(comps) == 1:
        # a single-component scan is non-interleaved: sampling factors
        # do not apply (T.81 A.2.2) — treat the plane as 1x1
        comps = [{**comps[0], "h": 1, "v": 1}]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]),
                     dtype=np.float64)
        )
    seg, end = _entropy_segment(buf, pos)
    br = MsbReader(seg)
    preds = [0] * len(comps)
    n_mcu = 0
    total_mcus = mcus_x * mcus_y
    while n_mcu < total_mcus:
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            # the interval's whole bytes are used up and RSTn follows
            rst = buf[end : end + 2]
            if br.left() >= 8 or len(rst) < 2 or not 0xD0 <= rst[1] <= 0xD7:
                raise ValueError("missing JPEG restart marker")
            seg, end = _entropy_segment(buf, end + 2)
            br = MsbReader(seg)
            preds = [0] * len(comps)
        my, mx = divmod(n_mcu, mcus_x)
        for i, c in enumerate(comps):
            dct, act = scan_sel[c["id"]]
            dc_table = dc_tabs[dct]
            ac_table = ac_tabs[act]
            qtab = qtabs[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = np.zeros(64, dtype=np.int64)
                    s = dc_table.read(br)
                    preds[i] += _extend(br.read(s), s)
                    coef[0] = preds[i]
                    k = 1
                    while k < 64:
                        rs = ac_table.read(br)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index overflow")
                        coef[k] = _extend(br.read(s), s)
                        k += 1
                    block = np.zeros(64, dtype=np.float64)
                    block[_ZIGZAG] = coef * qtab[_ZIGZAG]
                    pix = (_DCT_A.T @ block.reshape(8, 8) @ _DCT_A) + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[i][y0 : y0 + 8, x0 : x0 + 8] = pix
        n_mcu += 1

    # upsample every component to full MCU-grid resolution, then crop
    full = []
    for c, p in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    if len(comps) != 3:
        raise NotImplementedError("only 1- or 3-component JPEG scans")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
