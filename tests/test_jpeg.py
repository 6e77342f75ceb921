"""Native baseline JPEG codec (operators/jpeg.py): exact round trip on
the DC-preserving input class, bounded error on smooth images, the
full marker/subsampling/restart surface, hand-built coefficient
verification, and loud refusal of non-baseline variants."""

import struct

import numpy as np
import pytest

from flo_spark.operators.bitio import MsbWriter, canonical_codes
from flo_spark.operators import jpeg as J
from flo_spark.operators.jpeg import decode_jpeg, encode_jpeg_baseline


def _const_blocks(vals, bw=3):
    """Tile constant 8x8 blocks (len(vals) must divide by bw)."""
    bh = len(vals) // bw
    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    for i, v in enumerate(vals):
        by, bx = divmod(i, bw)
        img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = v
    return img


def test_constant_even_offset_blocks_roundtrip_exact():
    """8 * (v - 128) is a multiple of Q(0,0) = 16 when v - 128 is even,
    so quantization is lossless and every pixel must survive."""
    img = _const_blocks([128, 130, 68, 186, 254, 2])
    dec = decode_jpeg(encode_jpeg_baseline(img, quality=50))
    assert dec.shape == (16, 24, 1)
    assert np.array_equal(dec[:, :, 0], img)


def test_gradient_bounded_error():
    x = np.linspace(0, 255, 64)
    img = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(img, quality=90))
    assert np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max() <= 4


def test_color_444_bounded_error():
    rgb = np.zeros((24, 16, 3), dtype=np.uint8)
    rgb[:, :, 0] = np.linspace(40, 200, 16)[None, :]
    rgb[:, :, 1] = np.linspace(60, 220, 24)[:, None]
    rgb[:, :, 2] = 90
    dec = decode_jpeg(encode_jpeg_baseline(rgb, quality=95))
    assert dec.shape == rgb.shape
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 4


def test_color_420_odd_dims_with_restarts():
    rgb = np.zeros((19, 21, 3), dtype=np.uint8)
    rgb[:, :, 0] = np.linspace(30, 210, 21)[None, :]
    rgb[:, :, 1] = 120
    rgb[:, :, 2] = np.linspace(10, 240, 19)[:, None]
    buf = encode_jpeg_baseline(
        rgb, quality=90, subsample=True, restart_interval=2
    )
    assert b"\xff\xd0" in buf or b"\xff\xd1" in buf  # real RST markers
    dec = decode_jpeg(buf)
    assert dec.shape == rgb.shape
    # chroma is 2x2 box-averaged then nearest-upsampled: luma must stay
    # tight, chroma within the subsampling budget on these gradients
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 24


def test_flat_color_420_near_exact():
    rgb = np.full((16, 16, 3), (200, 40, 90), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(rgb, quality=90, subsample=True))
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 2


def test_dc_prediction_across_blocks():
    """Many blocks with alternating values force nonzero DC deltas in
    both directions; a predictor bug shifts everything after it."""
    vals = [128 + 2 * ((13 * i) % 60 - 30) for i in range(12)]
    img = _const_blocks(vals, bw=4)
    dec = decode_jpeg(encode_jpeg_baseline(img, quality=50))
    assert np.array_equal(dec[:, :, 0], img)


def test_handbuilt_single_block_coefficients():
    """Bypass the encoder's DCT: hand-code a block with known DC and
    one AC coefficient, decode, and match the float IDCT reference."""
    qtab = J._quality_scale(J._Q_LUM, 50)
    dc_codes = canonical_codes(*J._DC_LUM)
    ac_codes = canonical_codes(*J._AC_LUM)
    bw = MsbWriter()
    # DC = +5 (size 3), then AC at zigzag 1 = -3 (run 0, size 2), EOB
    s, bits = J._magnitude(5)
    c, ln = dc_codes[s]
    bw.write(c, ln)
    bw.write(bits, s)
    s, bits = J._magnitude(-3)
    c, ln = ac_codes[(0 << 4) | s]
    bw.write(c, ln)
    bw.write(bits, s)
    c, ln = ac_codes[0x00]
    bw.write(c, ln)

    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">HB", 67, 0)
    head += bytes(int(qtab[z]) for z in J._ZIGZAG)
    head += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
    head += bytes([1, 0x11, 0])
    for tid, (b_, v_) in ((0x00, J._DC_LUM), (0x10, J._AC_LUM)):
        head += b"\xff\xc4" + struct.pack(">HB", 19 + len(v_), tid)
        head += bytes(b_) + bytes(v_)
    head += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    buf = bytes(head) + J._entropy_bytes(bw) + b"\xff\xd9"

    dec = decode_jpeg(buf)[:, :, 0].astype(np.float64)
    coef = np.zeros(64)
    coef[J._ZIGZAG[0]] = 5 * qtab[0]
    coef[J._ZIGZAG[1]] = -3 * qtab[J._ZIGZAG[1]]
    ref = np.clip(
        np.round(J._DCT_A.T @ coef.reshape(8, 8) @ J._DCT_A + 128.0), 0, 255
    )
    assert np.array_equal(dec, ref)


def test_progressive_rejected():
    img = _const_blocks([128, 130, 132])
    buf = bytearray(encode_jpeg_baseline(img))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC2  # masquerade as progressive
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(buf))


def test_truncated_and_not_jpeg_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    img = _const_blocks([128, 130, 132])
    buf = encode_jpeg_baseline(img)
    with pytest.raises(ValueError):
        decode_jpeg(buf[: len(buf) // 2])


def test_decode_image_sniffs_jpeg():
    from flo_spark.operators.multimodal import decode_image

    img = _const_blocks([128, 140, 150])
    arr = decode_image(encode_jpeg_baseline(img))
    assert np.array_equal(arr[:, :, 0], img)


def test_byte_stuffing_survives():
    """Values that produce long 1-runs in entropy data force 0xFF bytes
    — the stuffing/unstuffing path must round-trip them."""
    rng = np.random.default_rng(2)
    img = (rng.integers(0, 128, (32, 32)) * 2).astype(np.uint8)
    buf = encode_jpeg_baseline(img, quality=100)
    assert b"\xff\x00" in buf  # stuffed bytes actually occurred
    dec = decode_jpeg(buf)
    assert np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max() <= 16
