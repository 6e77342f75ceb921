"""Native FLAC codec (operators/flac.py): lossless round trips through
the encoder, plus hand-built streams for the decoder-only paths the
encoder never emits (LPC, stereo decorrelation, Rice2, escape
partitions, wasted bits), plus corruption rejection."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flo_spark.operators.bitio import MsbWriter
from flo_spark.operators import flac as fl
from flo_spark.operators.flac import decode_flac, encode_flac


def _rt(samples, **kw):
    dec, rate = decode_flac(encode_flac(samples, **kw))
    return dec, rate


# -- encoder round trips ---------------------------------------------------


def test_mono_smooth_roundtrip_and_compression():
    t = np.arange(10000)
    rng = np.random.default_rng(7)
    mono = (1000 * np.sin(t / 50) + rng.integers(-20, 20, len(t))).astype(
        np.int16
    )
    buf = encode_flac(mono, rate=8000)
    dec, rate = decode_flac(buf)
    assert rate == 8000
    assert np.array_equal(dec[:, 0], mono.astype(np.int32))
    # fixed predictors + Rice must beat raw PCM on a smooth signal
    assert len(buf) < 0.6 * mono.nbytes


def test_stereo_noise_roundtrip_verbatim_fallback():
    rng = np.random.default_rng(11)
    st_ = rng.integers(-32768, 32767, size=(5000, 2)).astype(np.int16)
    buf = encode_flac(st_, rate=44100, block_size=1024)
    dec, rate = decode_flac(buf)
    assert rate == 44100
    assert np.array_equal(dec, st_.astype(np.int32))
    # incompressible noise must not blow up beyond container overhead
    assert len(buf) < 1.1 * st_.nbytes


def test_constant_subframe():
    c = np.full(3000, -123, dtype=np.int16)
    dec, _ = _rt(c)
    assert np.array_equal(dec[:, 0], c.astype(np.int32))


def test_partitioned_rice_roundtrip():
    t = np.arange(8192)
    mono = (500 * np.sin(t / 30)).astype(np.int16)
    buf = encode_flac(mono, block_size=4096, max_partition_order=3)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], mono.astype(np.int32))


def test_empty_signal():
    dec, _ = _rt(np.empty(0, dtype=np.int16))
    assert dec.shape == (0, 1)


def test_many_frames_multibyte_frame_number():
    rng = np.random.default_rng(3)
    x = rng.integers(-100, 100, size=300 * 16).astype(np.int16)
    dec, _ = _rt(x, block_size=16)
    assert np.array_equal(dec[:, 0], x.astype(np.int32))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    st.sampled_from([1, 2]),
    st.sampled_from([64, 256, 4096]),
)
def test_roundtrip_property(vals, n_ch, bsz):
    n = len(vals) - len(vals) % n_ch
    if n == 0:
        return
    x = np.array(vals[:n], dtype=np.int16).reshape(-1, n_ch)
    dec, _ = decode_flac(encode_flac(x, block_size=bsz))
    assert np.array_equal(dec, x.astype(np.int32))


# -- corruption rejection --------------------------------------------------


def test_corrupt_frame_rejected():
    x = (100 * np.sin(np.arange(4000) / 20)).astype(np.int16)
    buf = bytearray(encode_flac(x))
    buf[len(buf) // 2] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(buf))


def test_md5_mismatch_rejected():
    x = np.arange(100, dtype=np.int16)
    buf = bytearray(encode_flac(x))
    # STREAMINFO MD5 = bytes [4+4+18, 4+4+34); flip one
    buf[4 + 4 + 20] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(buf))


def test_not_flac_rejected():
    with pytest.raises(ValueError):
        decode_flac(b"RIFFxxxxWAVE")


# -- hand-built streams: decoder-only paths --------------------------------


def _stream(frames: bytes, n, n_ch, bps=16, rate=8000, md5=b"\0" * 16):
    si = MsbWriter()
    si.write(4096, 16)
    si.write(4096, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(n_ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    body = si.getvalue() + md5
    return b"fLaC" + bytes([0x80, 0, 0, len(body)]) + body + frames


def _frame(bs, ch_code, write_subframes):
    bw = MsbWriter()
    bw.write(fl._SYNC, 14)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(7, 4)  # 16-bit blocksize at end of header
    bw.write(0, 4)  # rate from STREAMINFO
    bw.write(ch_code, 4)
    bw.write(0b100, 3)  # 16 bps
    bw.write(0, 1)
    bw.write(0, 8)  # frame number 0
    bw.write(bs - 1, 16)
    bw.write(fl._crc8(bytes(bw.buf)), 8)
    write_subframes(bw)
    body = bw.getvalue()
    return body + struct.pack(">H", fl._crc16(body))


def _verbatim(bw, x, bits):
    bw.write(0, 1)
    bw.write(0b000001, 6)
    bw.write(0, 1)
    for v in x:
        bw.write(int(v) & ((1 << bits) - 1), bits)


@pytest.mark.parametrize("mode", ["left_side", "side_right", "mid_side"])
def test_stereo_decorrelation_decode(mode):
    rng = np.random.default_rng(5)
    left = rng.integers(-2000, 2000, 64).astype(np.int64)
    right = rng.integers(-2000, 2000, 64).astype(np.int64)
    side = left - right
    if mode == "left_side":
        code, c0, b0, c1, b1 = 8, left, 16, side, 17
    elif mode == "side_right":
        code, c0, b0, c1, b1 = 9, side, 17, right, 16
    else:
        mid = (left + right) >> 1
        code, c0, b0, c1, b1 = 10, mid, 16, side, 17

    def subs(bw):
        _verbatim(bw, c0, b0)
        _verbatim(bw, c1, b1)

    buf = _stream(_frame(64, code, subs), 64, 2)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], left)
    assert np.array_equal(dec[:, 1], right)


def test_lpc_subframe_decode():
    # order-1 LPC with coefficient 1, shift 0 == fixed order 1
    x = (200 * np.sin(np.arange(128) / 9)).astype(np.int64)
    res = np.diff(x)

    def subs(bw):
        bw.write(0, 1)
        bw.write(32, 6)  # LPC, order (32 & 31) + 1 = 1
        bw.write(0, 1)
        bw.write(int(x[0]) & 0xFFFF, 16)  # warmup
        bw.write(14, 4)  # precision - 1 -> 15 bits
        bw.write(0, 5)  # shift 0
        bw.write(1, 15)  # coefficient +1
        fl._write_rice(bw, res, 0, 128, 1)

    buf = _stream(_frame(128, 0, subs), 128, 1)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], x)


def test_rice2_method_decode():
    x = np.arange(-32, 32, dtype=np.int64)

    def subs(bw):
        bw.write(0, 1)
        bw.write(0b001000, 6)  # fixed order 0
        bw.write(0, 1)
        bw.write(1, 2)  # residual method 1: RICE2 (5-bit params)
        bw.write(0, 4)  # partition order 0
        u = fl._zigzag(x)
        bw.write(3, 5)  # rice parameter
        for v in u:
            v = int(v)
            bw.write_unary(v >> 3)
            bw.write(v, 3)

    buf = _stream(_frame(64, 0, subs), 64, 1)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], x)


def test_escape_partition_decode():
    x = np.array([5, -7, 1000, -1000] * 16, dtype=np.int64)

    def subs(bw):
        bw.write(0, 1)
        bw.write(0b001000, 6)  # fixed order 0
        bw.write(0, 1)
        bw.write(0, 2)  # RICE method
        bw.write(1, 4)  # partition order 1 -> two partitions of 32
        for half in (x[:32], x[32:]):
            bw.write(15, 4)  # escape code
            bw.write(12, 5)  # raw 12-bit signed values
            for v in half:
                bw.write(int(v) & 0xFFF, 12)

    buf = _stream(_frame(64, 0, subs), 64, 1)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], x)


def test_wasted_bits_decode():
    x = (np.arange(64, dtype=np.int64) - 32) * 4  # 2 trailing zero bits

    def subs(bw):
        bw.write(0, 1)
        bw.write(0b000001, 6)  # verbatim
        bw.write(1, 1)  # wasted-bits flag
        bw.write_unary(1)  # unary 1 -> wasted = 2
        for v in x >> 2:
            bw.write(int(v) & 0x3FFF, 14)  # bps - wasted = 14

    buf = _stream(_frame(64, 0, subs), 64, 1)
    dec, _ = decode_flac(buf)
    assert np.array_equal(dec[:, 0], x)


# -- decode_audio integration ----------------------------------------------


def test_decode_audio_flac_normalization():
    from flo_spark.operators.multimodal import decode_audio

    pcm = np.array([-32768, -1, 0, 1, 16384], dtype=np.int16)
    samples, rate = decode_audio(encode_flac(pcm, rate=22050))
    assert rate == 22050
    assert samples.dtype == np.float32
    back = np.round(samples[:, 0] * 32768.0).astype(np.int64)
    assert np.array_equal(back, pcm.astype(np.int64))
